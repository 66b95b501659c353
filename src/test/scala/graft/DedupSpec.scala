package graft

import graft.dedup._
import org.apache.spark.sql.functions._

/** Invariant tests for the dedup family — the correctness gate for the
  * [rows-only] queries q17/q31 and for the candidate-sharing path q19
  * builds on. Fixtures carry planted near-duplicates with hand-computable
  * similarity.
  */
class DedupSpec extends SparkSpec {

  import spark.implicits._

  // 1↔2 near-identical (1-token edit on 30 tokens), 3 unrelated, 4 = 1 exact dup
  private def docs = Seq(
    (1L, (1 to 30).map(i => s"tok$i").mkString(" ")),
    (2L, ((1 to 30).map(i => s"tok$i").updated(15, "CHANGED")).mkString(" ")),
    (3L, (100 to 130).map(i => s"zzz$i").mkString(" ")),
    (4L, (1 to 30).map(i => s"tok$i").mkString(" "))
  ).toDF("doc_id", "text")

  test("exact dedup groups duplicates under the smallest id") {
    val g = ExactDedup.groups(docs, "doc_id", "text")
      .select("keep_id", "n_dups").as[(Long, Long)].collect().toMap
    assert(g(1L) == 2L) // docs 1 and 4 share text
    assert(g(2L) == 1L && g(3L) == 1L)
    val kept = ExactDedup.dedup(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 2L, 3L))
  }

  test("minhash LSH recovers planted near-dups and exact dups, not unrelated docs") {
    val pairs = MinHashDedup
      .candidatePairs(docs, "doc_id", "text", shingleK = 2, numPerms = 128,
        bands = 32, minJaccardPct = 50)
      .select("id_a", "id_b", "est_jaccard_pct")
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2)).toSet
    assert(pairs.contains((1L, 4L)), "exact dup pair missing")
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L)),
      "near-dup pairs missing")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      "unrelated doc surfaced as candidate")
  }

  test("incremental probe pairs new docs against the index only — never index x index") {
    // index: docs 1 (tok-text) and 3 (zzz-text); incoming: 2 (near-dup
    // of 1) and 5 (unrelated fresh text). The probe must pair 2→1 and
    // find nothing for 5 — and must NOT emit the (1,4)-style
    // within-index pair the full run would.
    val index = MinHashDedup.signatures(docs.where(col("doc_id").isin(1L, 3L)),
      "doc_id", "text")
    val fresh = Seq(
      (2L, ((1 to 30).map(i => s"tok$i").updated(15, "CHANGED")).mkString(" ")),
      (5L, (500 to 530).map(i => s"qqq$i").mkString(" "))
    ).toDF("doc_id", "text")
    val incoming = MinHashDedup.signatures(fresh, "doc_id", "text")
    val pairs = MinHashDedup.probePairs(index, incoming, 128, 50)
      .as[(Long, Long, Long)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((2L, 1L)),
      s"probe found ${pairs.toSeq}")
    assert(pairs.head._3 >= 50)
  }

  test("probe excludes degenerate index buckets beyond the occupancy cap") {
    // 40 identical index docs collapse onto the same buckets in every
    // band; with maxBucket=8 the probe must refuse those buckets and
    // report the (identical) incoming doc as unmatched.
    val text = (1 to 30).map(i => s"tok$i").mkString(" ")
    val idxDocs = (1L to 40L).map(i => (i, text)).toDF("doc_id", "text")
    val index = MinHashDedup.signatures(idxDocs, "doc_id", "text")
    val incoming = MinHashDedup.signatures(
      Seq((100L, text)).toDF("doc_id", "text"), "doc_id", "text")
    assert(MinHashDedup.probePairs(index, incoming, 128, 50, maxBucket = 8)
      .isEmpty, "capped bucket still produced candidates")
    assert(!MinHashDedup.probePairs(index, incoming, 128, 50, maxBucket = 64)
      .isEmpty, "uncapped probe must match")
  }

  test("minhash estimate agrees with exact ngram jaccard within 15 points") {
    val cands = MinHashDedup.candidatePairs(docs, "doc_id", "text",
      shingleK = 2, numPerms = 128, bands = 32, minJaccardPct = 5)
    val est = cands.select("id_a", "id_b", "est_jaccard_pct")
      .as[(Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    val exact = NgramJaccard
      .verify(docs, cands, "doc_id", "text", shingleK = 2, minJaccardPct = 0)
      .as[(Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    exact.foreach { case (pair, j) =>
      assert(math.abs(est(pair) - j) <= 15, s"$pair est=${est(pair)} exact=$j")
    }
    // 1↔4 identical → jaccard 100; 1↔2 one token changed in 30 → 2 of 29
    // bigram shingles differ: J = 27/31 ≈ 87
    assert(exact((1L, 4L)) == 100L)
    assert(exact((1L, 2L)) >= 80L && exact((1L, 2L)) < 100L)
  }

  test("prefix-filtered exact join equals brute-force all-pairs, incl. the mid-J regime LSH can miss") {
    // docs 5↔6 share 8 of 14 distinct bigram shingles → J = 8/14 ≈ 0.57 —
    // inside [0.5, 0.8) where (r=4, b=32) banding misses with p ≈ 13%, so
    // this fixture would eventually break an LSH-candidate-based q19.
    val mid = Seq(
      (5L, (1 to 12).map(i => s"t$i").mkString(" ")),
      (6L, ((1 to 9).map(i => s"t$i") ++ (1 to 3).map(i => s"u$i")).mkString(" "))
    ).toDF("doc_id", "text")
    val all = docs.union(mid)
    val allPairs = all.select(col("doc_id").as("id_a"))
      .crossJoin(all.select(col("doc_id").as("id_b")))
      .where(col("id_a") < col("id_b"))
    val brute = NgramJaccard.verify(all, allPairs, "doc_id", "text",
      shingleK = 2, minJaccardPct = 50)
      .as[(Long, Long, Long)].collect().toSet
    val exact = NgramJaccard.exactPairs(all, "doc_id", "text",
      shingleK = 2, minJaccardPct = 50)
      .as[(Long, Long, Long)].collect().toSet
    assert(exact == brute, s"exact=$exact brute=$brute")
    assert(exact.exists { case (a, b, j) => (a, b) == ((5L, 6L)) && j >= 50 && j < 80 },
      "fixture must exercise the mid-J regime")
  }

  test("2-perm-band LSH candidates cover every exact J>=50 pair, incl. the mid-J regime") {
    // q19's config: r=2, b=64 → miss probability (1-J²)^64 ≤ 1e-8 for every
    // J ≥ 0.5 — the planted J≈0.57 pair (the ADVICE r2 regime that r=4
    // banding missed with p≈13%) must be covered deterministically.
    val mid = Seq(
      (5L, (1 to 12).map(i => s"t$i").mkString(" ")),
      (6L, ((1 to 9).map(i => s"t$i") ++ (1 to 3).map(i => s"u$i")).mkString(" "))
    ).toDF("doc_id", "text")
    val all = docs.union(mid)
    val cands = MinHashDedup.candidatePairs(all, "doc_id", "text",
      shingleK = 2, numPerms = 128, bands = 64, minJaccardPct = 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = NgramJaccard.exactPairs(all, "doc_id", "text",
      shingleK = 2, minJaccardPct = 50)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.contains((5L, 6L)), "fixture must exercise the mid-J regime")
    assert(exact.subsetOf(cands), s"LSH missed guaranteed pairs: ${exact -- cands}")
    // and verify-over-candidates ≡ the exact join at the q19 threshold
    val viaLsh = NgramJaccard.verify(all,
      cands.toSeq.toDF("id_a", "id_b"), "doc_id", "text",
      shingleK = 2, minJaccardPct = 50)
      .as[(Long, Long, Long)].collect().toSet
    val direct = NgramJaccard.exactPairs(all, "doc_id", "text",
      shingleK = 2, minJaccardPct = 50)
      .as[(Long, Long, Long)].collect().toSet
    assert(viaLsh == direct)
  }

  test("simhash pairs finds near-dups within hamming 3 and dedups band multiplicity") {
    val p = SimHashDedup.pairs(docs, "doc_id", "text", maxHamming = 3)
      .as[(Long, Long, Int)].collect()
    val keys = p.map(t => (t._1, t._2)).toSet
    assert(keys.contains((1L, 4L)))
    assert(p.count(t => (t._1, t._2) == ((1L, 4L))) == 1, "pair not deduped")
    assert(p.find(t => (t._1, t._2) == ((1L, 4L))).get._3 == 0)
    assert(!keys.exists(k => k._1 == 3L || k._2 == 3L))
  }

  test("simhash pairs rejects a radius the 4-chunk blocking cannot cover") {
    intercept[IllegalArgumentException] {
      SimHashDedup.pairs(docs, "doc_id", "text", maxHamming = 9)
    }
  }

  test("banded embedding LSH finds a planted cosine pair a single code would miss") {
    val rnd = new scala.util.Random(42)
    val base = Array.fill(64)(rnd.nextGaussian().toFloat)
    // planted near-dup: base + small noise (cosine ~0.9); rest random
    val near = base.map(x => x + 0.25f * rnd.nextGaussian().toFloat)
    val vecs = Seq(0L -> base, 1L -> near) ++
      (2L to 60L).map(i => i -> Array.fill(64)(rnd.nextGaussian().toFloat))
    val df = vecs.toDF("vec_id", "embedding")
    val pairs = EmbeddingDedup
      .pairs(df, "vec_id", "embedding", planes = 4, tables = 32,
        minCosine = 0.5)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)), "planted cosine pair missed")
    // exact-cosine verification keeps random pairs out
    assert(pairs.size <= 3, s"too many false pairs: $pairs")
  }

  test("payload-slim embedding pairs equal the inline-verified implementation") {
    val rnd = new scala.util.Random(7)
    val base = Array.fill(64)(rnd.nextGaussian().toFloat)
    val near = base.map(x => x + 0.25f * rnd.nextGaussian().toFloat)
    val vecs = Seq(0L -> base, 1L -> near) ++
      (2L to 60L).map(i => i -> Array.fill(64)(rnd.nextGaussian().toFloat))
    val df = vecs.toDF("vec_id", "embedding")
    def run(f: (org.apache.spark.sql.DataFrame, String, String, Int, Int,
        Double, Int) => org.apache.spark.sql.DataFrame) =
      f(df, "vec_id", "embedding", 4, 32, 0.5, 4096)
        .as[(Long, Long)].collect().toSet
    val inline = run(EmbeddingDedup.pairs)
    val slim = run(EmbeddingDedup.pairsSlim)
    assert(slim == inline, s"slim=$slim inline=$inline")
    assert(inline.contains((0L, 1L)))
  }

  test("over-cap bucket drops are observable, and planes sizing follows the corpus") {
    // 300 identical vectors collapse into ONE bucket per table; with the cap
    // at 100 every pair is silently excluded — droppedBuckets must say so
    val same = (1L to 300L).map(i => (i, Array.fill(8)(1.0f)))
      .toDF("vec_id", "embedding")
    assert(EmbeddingDedup.pairs(same, "vec_id", "embedding", planes = 4,
      tables = 4, minCosine = 0.5, maxBucket = 100).count() == 0)
    val dropped = EmbeddingDedup.droppedBuckets(same, "vec_id", "embedding",
      planes = 4, tables = 4, maxBucket = 100)
      .as[(Int, Long, Long)].collect()
    assert(dropped.length == 4, "every table must report its over-cap bucket")
    dropped.foreach { case (_, nBuckets, nRows) =>
      assert(nBuckets == 1L && nRows == 300L)
    }
    // the §4 calibration rule as code
    assert(EmbeddingDedup.planesFor(10L * 1000) == 5)
    assert(EmbeddingDedup.planesFor(100L * 1000) == 8)
    assert(EmbeddingDedup.planesFor(1000L * 1000) == 11)
    assert(EmbeddingDedup.planesFor(1000L * 1000 * 1000) == 21)
    // the r10 occupancy-shrinking variant: agrees at oracle scales
    // (<= 2000 vectors -> 4), grows 1.25x faster past them so candidate
    // volume is ~n^(3/4) — the values the r10 decade probe measured with
    assert(EmbeddingDedup.planesForSublinear(2000L) == 4)
    assert(EmbeddingDedup.planesForSublinear(20L * 1000) == 7)
    assert(EmbeddingDedup.planesForSublinear(200L * 1000) == 11)
    assert(EmbeddingDedup.planesForSublinear(1000L * 1000 * 1000) == 27)
  }

  test("non-convergent connected components fail loudly, not with truncated labels") {
    val n = 12L
    val nodes = (1L to n).map(i => (i, "")).toDF("doc_id", "text")
    val chain = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      DedupClusters.connectedComponents(nodes, "doc_id", chain, maxIter = 3)
    }
    // diagnostics opt-out returns the partial labels instead of throwing
    val partial = DedupClusters.connectedComponents(nodes, "doc_id", chain,
      maxIter = 3, failOnMaxIter = false).collect()
    assert(partial.length == n)
  }

  test("connected components chain transitive near-dup pairs into one cluster") {
    val nodes = (1L to 7L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    // 1-2-3 chained (diameter 2), 4-5 pair, 6 and 7 singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val comp = DedupClusters.connectedComponents(nodes, "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L,
      6L -> 6L, 7L -> 7L))
  }

  test("connected components stop at the first round that changes no label") {
    // a 12-node chain has diameter 11: round 11 brings label 1 to node 12
    // and round 12 is the first unchanged one, so 12 rounds reach the
    // fixpoint and 11 do not
    val n = 12L
    val nodes = (1L to n).map(i => (i, "")).toDF("doc_id", "text")
    val chain = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      DedupClusters.connectedComponents(nodes, "doc_id", chain, maxIter = 11)
    }
    val comp = DedupClusters.connectedComponents(nodes, "doc_id", chain,
      maxIter = 12)
    assert(comp.columns.toSeq == Seq("id", "component"))
    assert(comp.as[(Long, Long)].collect().toMap ==
      (1L to n).map(_ -> 1L).toMap)
  }

  test("connected components keeps only the final labels stored") {
    val n = 12L
    val nodes = (1L to n).map(i => (i, "")).toDF("doc_id", "text")
    val chain = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val comp = DedupClusters.connectedComponents(nodes, "doc_id", chain,
      maxIter = 15)
    // the chain needs ~11 rounds; the edge list and every superseded
    // round are released, the final round backs `comp`
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.size == 1, s"stored after the loop: $added")
    assert(comp.select("component").distinct().count() == 1L)
  }

  test("iterative builders keep only their results stored") {
    val sc = spark.sparkContext
    val links = (1L until 12L).map(i => (i, i + 1)).toDF("src", "dst")
    val text = (1L to 6L).map(i => (i, s"the cat sat on the mat $i the cat"))
      .toDF("doc_id", "text")
    val hops = (0 until 20).map(i => (s"u$i", s"u${i + 1}")).toDF("s", "d")
    val vecs = Tables(spark, sf0001).embeddings
    val hashes = (1L to 300L).toDF("w")
      .select(graft.functions.F.hash64(col("w").cast("string")).as("h"))
    val bm25Dir = java.nio.file.Files.createTempDirectory("bm25_store")
    // builder → the stored RDDs its result needs: PageRank's ranks (its
    // static frames are freed — with the dangling redistribution too),
    // none for BPE's driver-side merges, the k-means codebook, PQ's
    // codebook and codes, the last redirect round, the rank table plus
    // per-doc lengths, the range-stamped rows a rank reads, each PCA
    // component's loadings and gauge, the KMV sketches and exact counts,
    // and nothing for the builders whose result is written or collected
    val cases: Seq[(String, () => AnyRef, Int)] = Seq(
      ("PageRank.ranks", () =>
        graft.graph.PageRank.ranks(links, "src", "dst", iters = 20), 1),
      ("Bpe.trainDistributed", () =>
        graft.functions.Bpe.trainDistributed(text, "doc_id", "text", 10), 0),
      ("SemDedup.centroids", () => SemDedup.centroids(vecs, k = 4, iters = 5),
        1),
      ("PqAnn.train", () => graft.ann.PqAnn.train(vecs, m = 8, ksub = 16,
        dim = 64, lloydIters = 5), 2),
      ("Redirects.resolve", () =>
        graft.etl.Redirects.resolve(hops, "s", "d", maxHops = 32), 1),
      ("ExactSubstr.rankAndLens", () =>
        ExactSubstr.rankAndLens(text, "doc_id", "text", 3), 2),
      ("PageRank.ranks dangling", () => graft.graph.PageRank.ranks(links,
        "src", "dst", iters = 5, redistributeDangling = true), 1),
      ("Prefix.withRankPrefixTotals", () => graft.etl.Prefix
        .withRankPrefixTotals(text, Seq("doc_id"), Nil), 1),
      ("Pca.topComponents", () => graft.ann.Pca.topComponents(vecs,
        "vec_id", "embedding", nComponents = 2), 4),
      ("Kmv.overlapReport", () => graft.functions.Kmv.overlapReport(
        hashes, hashes.where(col("h") > 0L), "h", k = 16), 3),
      ("ExactSubstr.repetitionProfile", () =>
        ExactSubstr.repetitionProfile(text, "doc_id", "text", Seq(8L, 16L)),
        0),
      ("Bm25.buildIndex", () => {
        graft.functions.Bm25.buildIndex(text, "doc_id", "text",
          bm25Dir.resolve("idx").toString, 4)
        bm25Dir
      }, 0))
    val wrong = cases.flatMap { case (name, build, stored) =>
      val before = sc.getPersistentRDDs.keySet
      val result = build()
      val added = (sc.getPersistentRDDs.keySet -- before).size
      assert(result != null) // keeps the result's RDDs reachable until here
      if (added == stored) None else Some(s"$name: $added, expected $stored")
    }
    assert(wrong.isEmpty, s"stored RDDs added: ${wrong.mkString("; ")}")
  }

  test("connected components converge on a long chain within maxIter") {
    val n = 12L
    val nodes = (1L to n).map(i => (i, "")).toDF("doc_id", "text")
    val chain = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comp = DedupClusters.connectedComponents(nodes, "doc_id", chain,
      maxIter = 15)
      .as[(Long, Long)].collect().toMap
    assert(comp.values.toSet == Set(1L), "chain did not collapse to one component")
  }

  test("contamination finds full overlap for copied docs and none for fresh text") {
    val corpus = Seq(
      (1L, (1 to 40).map(i => s"c$i").mkString(" ")),
      (2L, (50 to 90).map(i => s"c$i").mkString(" "))).toDF("doc_id", "text")
    val bench = Seq(
      (100L, (1 to 40).map(i => s"c$i").mkString(" ")), // verbatim copy
      (101L, (1 to 200).map(i => s"fresh$i").mkString(" "))).toDF("doc_id", "text")
    val out = Contamination.overlap(corpus, "text", bench, "doc_id", "text", 5)
      .select("bench_id", "contaminated_pct").as[(Long, Long)].collect().toMap
    assert(out(100L) == 100L)
    assert(out(101L) == 0L)
  }

  test("packing respects the budget, packs every doc once, and is deterministic") {
    val docs = (1L to 300L).map(i => (i, 1L + i % 200)).toDF("doc_id", "n_tok")
    def pack() = Packing.firstFit(docs, "doc_id", col("n_tok"),
      maxTokens = 512, partitions = 4)
    val p1 = pack().collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    val p2 = pack().collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(p1.sortBy(_._1).toSeq == p2.sortBy(_._1).toSeq, "packing must be deterministic")
    assert(p1.map(_._1).distinct.length == 300, "every doc exactly once")
    val perSeq = pack().groupBy("seq_id")
      .agg(sum(col("n_tokens")).as("t"), count(lit(1)).as("n"))
      .as[(Long, Long, Long)].collect()
    perSeq.foreach { case (seq, t, n) =>
      assert(t <= 512 || n == 1, s"seq $seq exceeds budget with $n docs ($t tokens)")
    }
  }

  test("bucket occupancy cap drops pathological buckets instead of exploding") {
    // 200 identical docs all land in the same buckets; cap excludes them
    val same = (1L to 200L).map(i => (i, "the same boilerplate text repeated"))
      .toDF("doc_id", "text")
    val capped = MinHashDedup.candidatePairs(same, "doc_id", "text",
      shingleK = 2, numPerms = 128, bands = 32, minJaccardPct = 5,
      maxBucket = 100)
    assert(capped.count() == 0L)
  }

  test("persisted minhash index: zero index-side exchange, same results") {
    import spark.implicits._
    val docs = (0L until 32L).map(i =>
      (i, s"shared variant ${(i / 2) % 4} sentence alpha beta gamma " +
        s"delta epsilon zeta eta theta tail $i"))
      .toDF("doc_id", "text")
    def sigs(p: Int) = MinHashDedup.signatures(
      docs.where(col("doc_id") % 2 === p), "doc_id", "text", 3, 128, 16)
    MinHashDedup.writeIndex(sigs(0), "graft_test_probe_idx", 8)
    // force SMJ so the exchange accounting is not hidden by broadcasts
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val per = MinHashDedup.probePersisted(spark,
        "graft_test_probe_idx", sigs(1), 128, 5)
      val plan = per.queryExecution.executedPlan.toString
      assert("Bucketed: true".r.findAllIn(plan).size >= 3,
        "all three index scans must read the bucketed layout:\n" +
          plan.take(1500))
      assert("Exchange hashpartitioning\\(band".r.findAllIn(plan).size == 1,
        "only the CRAWL side may shuffle on (band, bucket) — the index " +
          "must arrive pre-bucketed:\n" + plan.take(1500))
      // layout-invariance: identical pairs to the in-session probe —
      // and NON-VACUOUSLY so (same-variant docs straddle the
      // even/odd split by construction)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val perRows = rows(per)
      assert(perRows.nonEmpty, "fixture must produce real candidates")
      assert(perRows == rows(
        MinHashDedup.probePairs(sigs(0), sigs(1), 128, 5)))
      // writeIndex is idempotent: a rebuild over the same name succeeds
      // (compare against the SAVED rows — the pre-rebuild plan's files
      // are gone by design)
      MinHashDedup.writeIndex(sigs(0), "graft_test_probe_idx", 8)
      assert(rows(MinHashDedup.probePersisted(spark,
        "graft_test_probe_idx", sigs(1), 128, 5)) == perRows)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS graft_test_probe_idx_buckets")
      spark.sql("DROP TABLE IF EXISTS graft_test_probe_idx_sigs")
    }
  }

  test("absorbed signatures probe like a rebuilt index, layout intact") {
    import spark.implicits._
    val docs = (0L until 48L).map(i =>
      (i, s"shared variant ${(i / 2) % 4} sentence alpha beta gamma " +
        s"delta epsilon zeta eta theta tail $i"))
      .toDF("doc_id", "text")
    def sigsOf(cond: org.apache.spark.sql.Column) = MinHashDedup
      .signatures(docs.where(cond), "doc_id", "text", 3, 128, 16)
    // force SMJ: a broadcast side legitimately skips the bucketed read
    // (no exchange to avoid), which would make the layout assert vacuous
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // day 0: index = ids 0..15; day 1 absorbs 16..31
      MinHashDedup.writeIndex(sigsOf(col("doc_id") < 16),
        "graft_test_absorb_idx", 8)
      MinHashDedup.absorbIndex(
        sigsOf(col("doc_id") >= 16 && col("doc_id") < 32),
        "graft_test_absorb_idx", 8)
      val probe = sigsOf(col("doc_id") >= 32)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val absorbed = rows(MinHashDedup.probePersisted(spark,
        "graft_test_absorb_idx", probe, 128, 5))
      // ≡ an index built over both days at once — and the absorbed
      // day-1 docs must actually be probe-visible (non-vacuous)
      assert(absorbed.exists(t => t._2 >= 16 && t._2 < 32),
        s"no candidate landed on an ABSORBED index doc: $absorbed")
      assert(absorbed == rows(MinHashDedup.probePairs(
        sigsOf(col("doc_id") < 32), probe, 128, 5)))
      // the appended files keep the bucketed layout the probe relies on
      val plan = MinHashDedup.probePersisted(spark,
        "graft_test_absorb_idx", probe, 128, 5)
        .queryExecution.executedPlan.toString
      assert("Bucketed: true".r.findAllIn(plan).size >= 3,
        "absorb must not demote the index to an unbucketed scan")
      // a mismatched bucket spec is refused loudly, never silently mixed
      intercept[Exception] {
        MinHashDedup.absorbIndex(sigsOf(col("doc_id") < 4),
          "graft_test_absorb_idx", 4)
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS graft_test_absorb_idx_buckets")
      spark.sql("DROP TABLE IF EXISTS graft_test_absorb_idx_sigs")
    }
  }

  test("manifest reads absorb accretion; compaction collapses it, verdicts invariant") {
    import spark.implicits._
    val docs = (0L until 48L).map(i =>
      (i, s"shared variant ${(i / 2) % 4} sentence alpha beta gamma " +
        s"delta epsilon zeta eta theta tail $i"))
      .toDF("doc_id", "text")
    def sigsOf(cond: org.apache.spark.sql.Column) = MinHashDedup
      .signatures(docs.where(cond), "doc_id", "text", 3, 128, 16)
    val base = "graft_test_lifecycle_idx"
    try {
      MinHashDedup.writeIndex(sigsOf(col("doc_id") < 12), base, 8)
      MinHashDedup.absorbIndex(
        sigsOf(col("doc_id") >= 12 && col("doc_id") < 22), base, 8)
      MinHashDedup.absorbIndex(
        sigsOf(col("doc_id") >= 22 && col("doc_id") < 32), base, 8)
      def gauge() = MinHashDedup.indexManifest(spark, base,
        compactAfter = 2).collect()
        .map(r => r.getAs[String]("table_name") -> r).toMap
      val before = gauge()
      assert(before.size == 2, "one gauge row per physical table")
      val bb = before(s"${base}_buckets")
      // three write generations → a bucket holding rows from each
      assert(bb.getAs[Long]("max_files_per_bucket") >= 3,
        s"two absorbs must accrete visible file generations: $bb")
      assert(bb.getAs[Boolean]("needs_compaction"),
        "the compactAfter=2 trigger must trip after two absorbs")
      val probe = sigsOf(col("doc_id") >= 32)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val pre = rows(MinHashDedup.probePersisted(spark, base, probe,
        128, 5))
      assert(pre.nonEmpty, "fixture must produce real candidates")
      MinHashDedup.compactIndex(spark, base, 8)
      val after = gauge()
      assert(!after(s"${base}_buckets").getAs[Boolean]("needs_compaction")
        && !after(s"${base}_sigs").getAs[Boolean]("needs_compaction"),
        s"compaction must clear the trigger: $after")
      assert(after(s"${base}_buckets").getAs[Long]("n_files") <
        bb.getAs[Long]("n_files"),
        "compaction must reduce the physical file count")
      assert(rows(MinHashDedup.probePersisted(spark, base, probe,
        128, 5)) == pre, "compaction must not move a verdict")
      // compaction also repairs a violated absorb-once contract:
      // re-absorbing an already-indexed slice then compacting dedups
      MinHashDedup.absorbIndex(sigsOf(col("doc_id") < 12), base, 8)
      MinHashDedup.compactIndex(spark, base, 8)
      assert(rows(MinHashDedup.probePersisted(spark, base, probe,
        128, 5)) == pre, "re-absorbed rows must collapse, not double")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${base}_buckets")
      spark.sql(s"DROP TABLE IF EXISTS ${base}_sigs")
    }
  }

  test("hammingPairs occupancy cap: pairs survive IFF they share an UNDER-CAP chunk bucket (the oracle model)") {
    // VERDICT r16 what's-wrong 4 / ADVICE r15, pinned: the engine drops
    // chunk buckets holding > maxBucket members, and the q148/q150/
    // q154/q155/q166 oracles model EXACTLY that (hammingPairCtes' hocc
    // HAVING COUNT(*) <= maxBucket). This spec is the contract: with a
    // bucket pushed over the cap, pairs that only co-bucket there
    // vanish from the engine too — no scale-dependent divergence class
    // left between the two sides.
    import graft.dedup.SimHashDedup
    // ids 0..9: hash 0 — ALL four 16-bit chunks land in the (chunk=0)
    // buckets, each with occupancy 12 > maxBucket 8 once the two
    // hash-1 rows join chunks 1..3 — every 0-0 pair must vanish.
    // ids 100, 101: hash 1 — chunk 0 bucket (value 1) has occupancy 2,
    // UNDER the cap, so this Hamming-0 pair must survive even though
    // its OTHER three chunks sit in the over-cap zero buckets.
    val hashed = ((0 until 10).map(i => (i.toLong, 0L)) ++
      Seq((100L, 1L), (101L, 1L))).toDF("doc_id", "h")
    val pairs = SimHashDedup.hammingPairs(hashed, "doc_id", "h",
      maxHamming = 3, maxBucket = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((100L, 101L)),
      s"cap semantics: only the under-cap-bucket pair survives, got $pairs")
    // raising the cap above the occupancy restores the full Hamming ball
    val uncapped = SimHashDedup.hammingPairs(hashed, "doc_id", "h",
      maxHamming = 3, maxBucket = 64)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.size == 45 + 1 + 10 * 2,
      s"uncapped ball: C(10,2) zeros + the ones pair + 10x2 cross " +
        s"(Hamming 1), got ${uncapped.size}")
  }

  test("dup-paragraph fraction scores shared paragraphs and gates at 30%") {
    val docs = Seq(
      (1L, "shared para\n\nunique A text here"),   // 11 + 18 chars
      (2L, "shared para\n\nunique B different!"),  // 11 + 19 chars
      (3L, "totally unique only here"),
      (4L, "")
    ).toDF("doc_id", "text")
    val out = LineDedup.dupParagraphStats(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val a = out(1L)
    assert(a.getAs[Long]("n_paras") == 2 && a.getAs[Long]("n_dup_paras") == 1)
    assert(a.getAs[Long]("total_chars") == 29 && a.getAs[Long]("dup_chars") == 11)
    assert(a.getAs[Long]("dup_bp") == 3793, s"11*10000/29 floors to 3793")
    assert(!a.getAs[Boolean]("keep"), "37.9% duplicated content must gate out")
    assert(out(3L).getAs[Long]("n_dup_paras") == 0 && out(3L).getAs[Boolean]("keep"))
    val e = out(4L)
    assert(e.getAs[Long]("total_chars") == 0 && e.getAs[Long]("dup_bp") == 0 &&
      e.getAs[Boolean]("keep"), "empty doc must not divide by zero")
  }
}
