package graft

import graft.ann.{BruteForce, IvfAnn, LshAnn, PqAnn}
import org.apache.spark.sql.functions._

/** ANN correctness: brute-force exactness on a hand-checkable fixture, and
  * the banded-LSH recall floor against the exact top-k on real test data —
  * the gate for [rows-only] q22.
  */
class AnnSpec extends SparkSpec {

  import spark.implicits._

  test("brute-force top-k ranks by exact cosine with deterministic ties") {
    // query 0 = e1; neighbors along known directions
    val vecs = Seq(
      0L -> Array(1f, 0f, 0f, 0f),
      1L -> Array(10f, 0.1f, 0f, 0f), // cos ~1.0 → rank 1
      2L -> Array(1f, 1f, 0f, 0f),    // cos ~0.707 → rank 2
      3L -> Array(0f, 1f, 0f, 0f),    // cos 0 → rank 3
      4L -> Array(-1f, 0f, 0f, 0f)    // cos -1 → rank 4
    ).toDF("vec_id", "embedding")
    val res = BruteForce.topK(vecs, vecs.where(col("vec_id") === 0), k = 4)
      .as[(Long, Long, Long)].collect().sortBy(_._3)
    assert(res.map(_._2).toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("banded LSH ANN clears a 60% recall floor (avg 75%) vs exact top-5 on sf0.001") {
    val e = Tables(spark, sf0001).embeddings
    val queries = e.where(col("vec_id") < 50)
    val recall = LshAnn.recallAtK(
      LshAnn.topK(e, queries, k = 5, planes = 4, tables = 16),
      BruteForce.topK(e, queries, k = 5), k = 5)
      .as[(Long, Long)].collect()
    assert(recall.length == 50)
    val avg = recall.map(_._2).sum / 50.0
    assert(recall.forall(_._2 >= 40), s"per-query floor breached: ${recall.filter(_._2 < 40).mkString(",")}")
    assert(avg >= 75.0, s"avg recall $avg below floor")
  }

  test("IVF ANN clears a recall floor (avg 70%) vs exact top-5 on sf0.001") {
    val e = Tables(spark, sf0001).embeddings
    val queries = e.where(col("vec_id") < 50)
    val recall = LshAnn.recallAtK(
      IvfAnn.topK(e, queries, k = 5, nCentroids = 16, nProbe = 8),
      BruteForce.topK(e, queries, k = 5), k = 5)
      .as[(Long, Long)].collect()
    assert(recall.length == 50)
    val avg = recall.map(_._2).sum / 50.0
    assert(avg >= 70.0, s"avg IVF recall $avg below floor")
  }

  test("persisted IVF index search equals in-memory IVF and prunes partitions") {
    val e = Tables(spark, sf0001).embeddings
    val queries = e.where(col("vec_id") < 20)
    val path = java.nio.file.Files.createTempDirectory("ivf_idx").toString + "/ix"
    IvfAnn.buildIndex(e, path, nCentroids = 16)
    val fromIndex = IvfAnn.searchIndex(spark, path, queries, k = 5, nProbe = 4)
    val inMemory = IvfAnn.topK(e, queries, k = 5, nCentroids = 16, nProbe = 4)
    assert(fromIndex.as[(Long, Long, Long)].collect().toSet ==
      inMemory.as[(Long, Long, Long)].collect().toSet)
    // the scan must read only the probed cell directories
    val plan = fromIndex.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell#"),
      s"no partition pruning on the index scan:\n${plan.take(1200)}")
  }

  test("PQ encode is lossless when corpus subvectors come FROM the codebook; ADC = exact L2") {
    // vectors constructed as combinations of 4 distinct subvector values per
    // subspace → quantization error is exactly 0, so ADC distances equal
    // true squared L2 and PQ top-k must equal the exact L2 top-k
    val basis = Array(
      Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f),
      Array(0f, 0f, 1f, 0f), Array(0f, 0f, 0f, 1f))
    val vecs = (0L until 64L).map { i =>
      val v = (0 until 4).flatMap(s => basis(((i >> (2 * s)) & 3).toInt)).toArray
      (i, v)
    }.toDF("vec_id", "embedding")
    val q = vecs.where(col("vec_id") < 4)
    // ksub = corpus size → every subvector value is certainly in the
    // codebook (the hash-sample with fewer slots could draw duplicate
    // donor subvectors and miss a value)
    val pq = PqAnn.topK(vecs, q, k = 3, m = 4, ksub = 64, dim = 16,
      lloydIters = 0).as[(Long, Long, Long)].collect()
    // with zero quantization error every ADC distance is exact; ranks can
    // differ from cosine ranking only through L2-vs-cos tie ordering, so
    // compare against an exact L2 ranking computed the same way
    val exact = PqAnn.topK(vecs, q, k = 3, m = 1, ksub = 64, dim = 16,
      lloydIters = 0).as[(Long, Long, Long)].collect()
    assert(pq.toSet == exact.toSet)
  }

  test("a trained PQ index serves repeated searches with identical results") {
    val e = Tables(spark, sf0001).embeddings
    val (cb, codes) = PqAnn.train(e, m = 8, ksub = 16, dim = 64, lloydIters = 1)
    val q1 = e.where(col("vec_id") < 10)
    val a = PqAnn.search(cb, codes, e, q1, k = 3, m = 8, dim = 64)
      .as[(Long, Long, Long)].collect().toSet
    val b = PqAnn.search(cb, codes, e, q1, k = 3, m = 8, dim = 64)
      .as[(Long, Long, Long)].collect().toSet
    assert(a == b && a.nonEmpty)
    val oneShot = PqAnn.topK(e, q1, k = 3, m = 8, ksub = 16, dim = 64,
      lloydIters = 1).as[(Long, Long, Long)].collect().toSet
    assert(a == oneShot, "index search diverges from one-shot topK")
  }

  test("PQ ANN clears a recall floor (avg 60%) vs exact top-5 on sf0.001") {
    val e = Tables(spark, sf0001).embeddings
    val queries = e.where(col("vec_id") < 50)
    val recall = LshAnn.recallAtK(
      PqAnn.topK(e, queries, k = 5, m = 8, ksub = 16, dim = 64,
        lloydIters = 2, rerank = 50),
      BruteForce.topK(e, queries, k = 5), k = 5)
      .as[(Long, Long)].collect()
    assert(recall.length == 50)
    val avg = recall.map(_._2).sum / 50.0
    assert(avg >= 60.0, s"avg PQ recall $avg below floor")
  }

  test("IVF with nProbe = nCentroids degenerates to exact search") {
    // probing every cell must recover the exact top-k — the recall knob's
    // upper end is brute force
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 40L).map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val q = vecs.where(col("vec_id") < 5)
    val exact = BruteForce.topK(vecs, q, k = 3)
      .as[(Long, Long, Long)].collect().toSet
    val ivf = IvfAnn.topK(vecs, q, k = 3, nCentroids = 8, nProbe = 8)
      .as[(Long, Long, Long)].collect().toSet
    assert(ivf == exact)
  }

  test("SQ8 prep: hand-checked codes, norm, argmax, zero/empty totality") {
    import graft.ann.VectorPrep
    // v = (0.5, -0.25, 0.1) → q = (500, -250, 100); maxq = 500;
    // codes = (127, floor(-250·127/500) = -64, floor(100·127/500) = 25);
    // dequant = (500, floor(-64·500/127) = -252, floor(25·500/127) = 98);
    // mae = |500-500| + |-250+252| + |100-98| = 4;
    // ssq = 250000+62500+10000 = 322500 → floor(√) = 567
    val vecs = Seq(
      (1L, Array(0.5f, -0.25f, 0.1f)),
      (2L, Array(0f, 0f)),          // degenerate zero vector
      (3L, Array.empty[Float])      // empty
    ).toDF("vec_id", "embedding")
    val out = VectorPrep.sq8Report(vecs, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r).toMap
    val a = out(1L)
    assert(a.getAs[Long]("n_dims") == 3 && a.getAs[Long]("norm_x1e3") == 567)
    assert(a.getAs[Long]("max_abs_q") == 500 &&
      a.getAs[Long]("argmax_dim") == 1)
    assert(a.getAs[Long]("quant_mae_sum") == 4, s"got $a")
    assert(!a.getAs[Boolean]("is_zero"))
    val z = out(2L)
    assert(z.getAs[Boolean]("is_zero") && z.getAs[Long]("quant_mae_sum") == 0)
    assert(z.getAs[Long]("argmax_dim") == 1, "all-zero: first dim attains 0")
    val e = out(3L)
    assert(e.getAs[Long]("n_dims") == 0 && e.isNullAt(e.fieldIndex("argmax_dim")),
      "empty vector: no argmax to report")
  }

  test("SQ8 search clears a recall floor (avg 90%) vs exact top-5 on sf0.001") {
    import graft.ann.VectorPrep
    val e = Tables(spark, sf0001).embeddings
    val queries = e.where(col("vec_id") < 50)
    val recall = LshAnn.recallAtK(
      VectorPrep.sq8TopK(e, queries, k = 5, rerank = 50),
      BruteForce.topK(e, queries, k = 5), k = 5)
      .as[(Long, Long)].collect()
    assert(recall.length == 50)
    val avg = recall.map(_._2).sum / 50.0
    // int8 quantization + 50-deep exact re-rank should be nearly exact
    assert(avg >= 90.0, s"avg SQ8 recall $avg below floor")
    assert(recall.forall(_._2 >= 60),
      s"per-query floor breached: ${recall.filter(_._2 < 60).mkString(",")}")
  }

  test("IVF+SQ8 composed index: recall floor, partition pruning, rerank=0 honesty") {
    import graft.ann.IvfSqAnn
    val e = Tables(spark, sf0001).embeddings
    val queries = e.where(col("vec_id") < 50)
    val path = java.nio.file.Files
      .createTempDirectory("ivfsq_idx").toString + "/ix"
    IvfSqAnn.buildIndex(e, path, nCentroids = 16)
    val res = IvfSqAnn.searchIndex(spark, path, e, queries, k = 5,
      nProbe = 8, rerank = 50)
    // the scan must read only the probed cell directories
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell#"),
      s"no partition pruning on the index scan:\n${plan.take(1200)}")
    val recall = LshAnn.recallAtK(res, BruteForce.topK(e, queries, k = 5),
      k = 5).as[(Long, Long)].collect()
    assert(recall.length == 50)
    val avg = recall.map(_._2).sum / 50.0
    // bounded below by the IVF cell choice (the SQ8 rank error is
    // bought back by the 50-deep exact re-rank)
    assert(avg >= 70.0, s"avg IVF+SQ8 recall $avg below floor")
    // rerank=0 must return the raw integer-ADC ranking, not throw
    assert(IvfSqAnn.searchIndex(spark, path, e, queries, k = 5,
      nProbe = 8, rerank = 0).count() > 0)
  }

  test("IVF drift audit: populations conserve, full reversal trips every cell") {
    import graft.ann.IvfSqAnn
    val e = Tables(spark, sf0001).embeddings
    val n = e.count()
    val path = java.nio.file.Files
      .createTempDirectory("ivf_drift").toString + "/ix"
    IvfSqAnn.buildIndex(e, path, nCentroids = 16)
    // the unchanged corpus: every vector lands somewhere (populations
    // sum to the corpus) and each centroid's own cell holds it (cos 1)
    val same = IvfAnn.driftAudit(spark, path, e).collect()
    assert(same.length == 16)
    assert(same.map(_.getAs[Long]("n_members")).sum == n)
    assert(same.forall(r => r.getAs[Long]("n_members") > 0),
      "the build corpus cannot leave a centroid's own cell empty")
    // full sign reversal: every member→centroid cosine flips negative,
    // so every cell's mean drops below any positive threshold
    val reversed = e.select(col("vec_id"),
      transform(col("embedding"), x => -x).as("embedding"))
    val drift = IvfAnn.driftAudit(spark, path, reversed).collect()
    assert(drift.forall(_.getAs[Boolean]("is_stale")),
      "a fully-reversed corpus must trip every cell")
    assert(drift.map(_.getAs[Long]("n_members")).sum == n,
      "drift must move members between cells, never lose them")
  }

  test("absorbVectors appends into frozen cells: old files intact, stored assignment exact") {
    import graft.ann.IvfSqAnn
    val e = Tables(spark, sf0001).embeddings
    val base = e.where(col("vec_id") % 4 =!= 3)
    val day = e.where(col("vec_id") % 4 === 3)
    val path = java.nio.file.Files
      .createTempDirectory("ivf_absorb").toString + "/ix"
    IvfSqAnn.buildIndex(base, path, nCentroids = 16)
    def partFiles(): Set[String] = {
      val root = new java.io.File(s"$path/index")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).map(_.getPath).filter(_.contains("part-")).toSet
    }
    val before = partFiles()
    IvfSqAnn.absorbVectors(spark, path, day)
    // append-only: every pre-absorb file generation survives untouched
    assert(before.subsetOf(partFiles()),
      "absorb rewrote existing cell files — the append contract is broken")
    // membership: the absorbed index holds exactly base ∪ day, once each
    val stored = spark.read.parquet(s"$path/index")
      .select(col("nid"), col("cell"))
    assert(stored.groupBy("nid").count().where(col("count") > 1).isEmpty,
      "absorb duplicated an id")
    assert(stored.count() == e.count())
    // the day batch's STORED cells equal the frozen-centroid assignment
    val cents = spark.read.parquet(s"$path/centroids")
    val expected = day.select(col("vec_id").as("nid"), col("embedding"))
      .crossJoin(broadcast(cents))
      .groupBy(col("nid"))
      .agg(max(struct(graft.functions.F.cosine(col("embedding"), col("c_vec"))
        .as("cos"), col("cid").as("cid"))).as("m"))
      .select(col("nid"), col("m.cid").as("cell"))
    assert(stored.join(expected, Seq("nid"))
      .where(stored("cell") =!= expected("cell")).isEmpty,
      "an absorbed row landed in a cell the frozen centroids don't assign")
  }

  test("absorb ≡ rebuild where recall-equivalent: full-probe searches agree exactly") {
    import graft.ann.IvfSqAnn
    // with nProbe = nCentroids both indexes degenerate to exact search,
    // so the absorbed index (frozen base-sample centroids) and a full
    // rebuild (full-corpus-sample centroids) must return IDENTICAL
    // top-k — the lifecycle changes layout, never results
    val e = Tables(spark, sf0001).embeddings
    val queries = e.where(col("vec_id") < 20)
    val pa = java.nio.file.Files
      .createTempDirectory("ivf_lc_a").toString + "/ix"
    IvfSqAnn.buildIndex(e.where(col("vec_id") % 4 =!= 3), pa, nCentroids = 16)
    IvfSqAnn.absorbVectors(spark, pa, e.where(col("vec_id") % 4 === 3))
    val pb = java.nio.file.Files
      .createTempDirectory("ivf_lc_b").toString + "/ix"
    IvfSqAnn.buildIndex(e, pb, nCentroids = 16)
    val a = IvfSqAnn.searchIndex(spark, pa, e, queries, k = 5,
      nProbe = 16, rerank = 50).as[(Long, Long, Long)].collect().toSet
    val b = IvfSqAnn.searchIndex(spark, pb, e, queries, k = 5,
      nProbe = 16, rerank = 50).as[(Long, Long, Long)].collect().toSet
    val exact = BruteForce.topK(e, queries, k = 5)
      .as[(Long, Long, Long)].collect().toSet
    assert(a == b, "absorbed and rebuilt indexes diverge under full probing")
    assert(a == exact, "full-probe lifecycle search is not exact")
  }

  test("maintainIndex: healthy no-op, stale rebuild in place, rebuilt re-audits healthy") {
    import graft.ann.IvfSqAnn
    // sixteen orthogonal axis vectors and nCentroids = 16: the centroid
    // sample IS the corpus, every vector self-assigns at cosine 1, so
    // the healthy audit is exactly clean; after a full reversal every
    // best cosine is ≤ 0 (self → −1, cross → 0) and every cell trips
    val e = (0L until 16L).map { i =>
      val v = Array.fill(16)(0f)
      v(i.toInt) = 1f
      (i, v)
    }.toDF("vec_id", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("ivf_maint").toString + "/ix"
    IvfSqAnn.buildIndex(e, path, nCentroids = 16)
    val centsBefore = spark.read.parquet(s"$path/centroids")
      .collect().map(_.getLong(0)).toSet
    // healthy corpus: audit clean, nothing rebuilt
    assert(!IvfSqAnn.maintainIndex(spark, path, e, nCentroids = 16),
      "a healthy index must not rebuild")
    assert(spark.read.parquet(s"$path/centroids")
      .collect().map(_.getLong(0)).toSet == centsBefore)
    // full reversal trips every cell → rebuild fires in place
    val reversed = e.select(col("vec_id"),
      transform(col("embedding"), x => -x).as("embedding"))
    assert(IvfSqAnn.maintainIndex(spark, path, reversed, nCentroids = 16),
      "a fully-reversed corpus must trip the rebuild")
    // the rebuilt index re-audits healthy against the corpus it trained
    // on: reversed members vs reversed centroids restore the ≥0.95 means
    val after = IvfAnn.driftAudit(spark, path, reversed).collect()
    assert(after.length == 16 && after.forall(!_.getAs[Boolean]("is_stale")),
      "the rebuild did not restore a healthy audit")
  }

  test("bitext margin: a true pair clears the gate, a weak hub best-match is rejected") {
    import graft.ann.BitextMining
    // sources are axis vectors e0..e3 (ids 0,2,4,6); targets: 101 = e0
    // (src 0's true translation), 103/105 = per-source decoys at cos
    // 0.8, 107 = a HUB leaning toward e0..e2 — it is src 6's BEST
    // cosine (everything else is orthogonal), but its own dense
    // neighborhood must drag the margin below the gate: the exact
    // failure mode raw-cosine mining has and the margin criterion
    // exists to stop.
    def axis(i: Int): Array[Float] = {
      val v = Array.fill(8)(0f); v(i) = 1f; v
    }
    def decoy(i: Int): Array[Float] = {
      val v = Array.fill(8)(0f); v(i) = 0.8f; v(4 + i) = 0.6f; v
    }
    val hub = {
      val n = math.sqrt(3.04).toFloat
      Array(1f / n, 1f / n, 1f / n, 0.2f / n, 0f, 0f, 0f, 0f)
    }
    val vecs = Seq(
      0L -> axis(0), 2L -> axis(1), 4L -> axis(2), 6L -> axis(3),
      101L -> axis(0), 103L -> decoy(1), 105L -> decoy(2), 107L -> hub
    ).toDF("vec_id", "embedding")
    val mined = BitextMining.minePairs(
      vecs.where(col("vec_id") % 2 === 0),
      vecs.where(col("vec_id") % 2 === 1), k = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(mined.keySet == Set(0L, 2L, 4L, 6L), s"one row per source: $mined")
    val (t0, m0, a0) = mined(0L)
    assert(t0 == 101L && a0 && m0 > 1060000L,
      s"the true pair must be mined and accepted: $mined")
    val (t6, _, a6) = mined(6L)
    assert(t6 == 107L,
      s"the hub IS src 6's best cosine — it must surface as the match: $mined")
    assert(!a6,
      s"...but its dense neighborhood must fail the margin gate: $mined")
    // decoys are legitimate unique matches — mined and accepted
    assert(mined(2L)._1 == 103L && mined(2L)._3)
    assert(mined(4L)._1 == 105L && mined(4L)._3)
  }

  test("SQ8 search without re-rank still ranks by the integer ADC score") {
    import graft.ann.VectorPrep
    // axis-aligned fixture: integer scores are hand-checkable
    val vecs = Seq(
      0L -> Array(1f, 0f, 0f, 0f),
      1L -> Array(10f, 0.1f, 0f, 0f),
      2L -> Array(1f, 1f, 0f, 0f),
      3L -> Array(0f, 1f, 0f, 0f),
      4L -> Array(-1f, 0f, 0f, 0f)
    ).toDF("vec_id", "embedding")
    val res = VectorPrep.sq8TopK(vecs, vecs.where(col("vec_id") === 0),
        k = 4, rerank = 0)
      .as[(Long, Long, Long)].collect().sortBy(_._3)
    assert(res.map(_._2).toSeq == Seq(1L, 2L, 3L, 4L),
      s"ADC order diverged: ${res.mkString(",")}")
  }

  test("JL projection is the exact hash-sign sum, and identical vectors collide") {
    import graft.functions.Hashing
    val milli = Array(1000L, -500L, 250L, 3L)
    val got = Hashing.jlProject(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(milli), 4)
    for (j <- 0 until 4) {
      var want = 0L
      for (i <- milli.indices) {
        val s = if ((Hashing.murmur64(8191L * j + i) & 1L) == 0L) 1L else -1L
        want += s * milli(i)
      }
      assert(got.getLong(j) == want, s"component $j")
    }
  }

  test("JL ANN clears a recall floor (avg 60%) vs exact top-5 on sf0.001") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = e.where(col("vec_id") < 50)
    val rec = LshAnn.recallAtK(
      graft.ann.JlAnn.topK(e, q, k = 5, dims = 32, shortlist = 100),
      BruteForce.topK(e, q, k = 5), k = 5)
      .agg(avg(col("recall_pct"))).as[Double].head()
    // near-uniform sphere data is the JL worst case; 32/64 dims with a
    // 100-row shortlist measured ~80 here — 60 is the regression floor
    assert(rec >= 60.0, s"JL avg recall $rec < 60")
  }

  test("IVF+SQ8 probing every cell equals flat SQ8 row for row, with and without re-rank") {
    import graft.ann.{IvfSqAnn, VectorPrep}
    val e = Tables(spark, sf0001).embeddings
    val queries = e.where(col("vec_id") < 50)
    val path = java.nio.file.Files
      .createTempDirectory("ivfsq_full").toString + "/ix"
    IvfSqAnn.buildIndex(e, path, nCentroids = 16)
    for (rerank <- Seq(0, 50)) {
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.as[(Long, Long, Long)].collect().sorted.toSeq
      val ivf = rows(IvfSqAnn.searchIndex(spark, path, e, queries, k = 5,
        nProbe = 16, rerank = rerank))
      assert(ivf.size == 250, s"rerank=$rerank: ${ivf.size} rows")
      assert(ivf == rows(VectorPrep.sq8TopK(e, queries, k = 5,
        rerank = rerank)), s"rerank=$rerank")
    }
  }

  test("each vector-search tail decision has one home in ann/ and SemDedup") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val files = Files.list(root.resolve("ann")).iterator().asScala.toList
      .filter(_.toString.endsWith(".scala")) :+
      root.resolve("dedup/SemDedup.scala")
    val names = files.map(_.getFileName.toString).toSet
    assert(Set("Ann.scala", "BitextMining.scala", "SearchTail.scala",
      "SemDedup.scala").subsetOf(names), s"scanned $names")
    // pattern -> its home: (file, occurrences); zero everywhere else.
    // The scanner cuts string literals out, so cast("double") reads cast()
    val homes = Seq(
      // only mineGlobalPairs' rf/rb pair, which must share one row
      """row_number\(\)""" -> Map("BitextMining.scala" -> 2),
      """floor\(\s*\w+\.cast\(\)\s*\*\s*1000L?\s*\)""" ->
        Map("SearchTail.scala" -> 1),
      """max\(\s*struct\(\s*F\.cosine""" -> Map("SearchTail.scala" -> 1),
      // F.floorDiv is the one floor division
      """-\s*pmod\(""" -> Map.empty[String, Int])
    val code = files.map(f =>
      f.getFileName.toString -> CodeScan.codeLines(f).mkString("\n"))
    val wrong = for {
      (pattern, home) <- homes
      (name, text) <- code
      n = pattern.r.findAllIn(text).size if n != home.getOrElse(name, 0)
    } yield s"$name: $n x /$pattern/, want ${home.getOrElse(name, 0)}"
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }
}
