package graft.dedup

import graft.etl.{Rounds, Store}
import graft.functions.F
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for document corpora. Four families:
  * exact (hash groupBy), MinHash+LSH, SimHash, and embedding-cosine —
  * each designed so candidate generation is bounded (never an O(n²)
  * cross join): LSH buckets bound the pair space, exact verification
  * runs only inside buckets.
  *
  * Scale invariants shared by every candidate-pair path here:
  *  - the bucket shuffle carries ONLY (bucket key, id) — never signature
  *    arrays, vectors, or text;
  *  - hot buckets are capped (`maxBucket`), so one boilerplate-heavy
  *    bucket can never go O(|bucket|²);
  *  - pair dedup happens on narrow (id_a, id_b) rows BEFORE any payload
  *    (signature / vector) is joined back for verification.
  */
object DedupInternals {

  /** Upper-triangle pairs of a sorted id array: (ids(i), ids(j)) for i < j.
    * Pure codegen'd array ops — no join, no UDF. `maxLen` must bound the
    * array length (callers cap bucket occupancy first).
    */
  def pairsOf(ids: Column, maxLen: Int): Column =
    flatten(transform(ids, (a, i) =>
      transform(slice(ids, i + 2, lit(maxLen)),
        b => struct(a.as("id_a"), b.as("id_b")))))

  /** Group bucketed (bucket-cols..., id) rows, cap occupancy, explode the
    * in-bucket pairs, and return DISTINCT narrow (id_a, id_b) pairs.
    * Shuffles: one on the bucket key, one on the (id_a, id_b) dedup —
    * both with ≤24-byte rows.
    */
  def distinctBucketPairs(bucketed: DataFrame, bucketCols: Seq[String],
      idCol: String, maxBucket: Int): DataFrame =
    bucketed
      .groupBy(bucketCols.map(col): _*)
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .where(size(col("ids")).between(2, maxBucket))
      .select(explode(pairsOf(col("ids"), maxBucket)).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()
}

object ExactDedup {

  /** Keep-first exact dedup: group on a 64-bit content hash + length (16
    * bytes/row shuffled) instead of the raw content — at 100 TB the group
    * key must not be the document itself. Hash collisions would need both
    * an FNV64 collision AND an equal length; for stronger guarantees chain
    * a byte-compare inside the surviving groups.
    */
  def groups(docs: DataFrame, idCol: String, keyCol: String): DataFrame =
    docs
      .groupBy(F.hash64(col(keyCol)).as("key_hash"),
        length(col(keyCol)).as("key_len"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** The surviving rows after exact dedup. */
  def dedup(docs: DataFrame, idCol: String, keyCol: String): DataFrame =
    docs.join(
      groups(docs, idCol, keyCol).select(col("keep_id").as(idCol)),
      Seq(idCol),
      "left_semi")
}

object MinHashDedup {

  /** Per-doc minhash signature + LSH band buckets.
    * numPerms must be divisible by bands.
    */
  def signatures(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numPerms: Int = 128, bands: Int = 16): DataFrame = {
    require(numPerms % bands == 0, "numPerms must be divisible by bands")
    docs
      // sketches need content: null/blank docs would all collapse onto the
      // degenerate empty-shingle signature and "near-dup" each other —
      // content-less duplicates are exact-dedup's job, not MinHash's
      .where(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(
        col(idCol).as("id"),
        F.minhashSig(F.shingles(F.tokensLower(col(textCol)), shingleK), numPerms)
          .as("sig"))
      .withColumn("buckets", F.bandBuckets(col("sig"), bands))
  }

  /** Candidate pairs from a signatures frame ((id, sig, buckets) as produced
    * by [[signatures]] — callers persist it to share between operators).
    * The band/bucket shuffle and the pair dedup run on narrow id rows; the
    * 1 KB signature payload joins back only for the per-pair Jaccard
    * estimate, keyed by id (AQE broadcasts it when small).
    */
  def candidatePairsFromSigs(sigs: DataFrame, numPerms: Int,
      minJaccardPct: Int, maxBucket: Int = 256): DataFrame = {
    val bucketed = sigs.select(col("id"),
      posexplode(col("buckets")).as(Seq("band", "bucket")))
    val pairs = DedupInternals
      .distinctBucketPairs(bucketed, Seq("band", "bucket"), "id", maxBucket)
    val s = sigs.select(col("id"), col("sig"))
    estimated(pairs
      .join(s.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(s.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b"),
      "sig_a", "sig_b", numPerms, minJaccardPct)
      .select("id_a", "id_b", "est_jaccard_pct")
  }

  /** `pairs` with `est_jaccard_pct` (the share of signature positions
    * where `sigA` and `sigB` agree), kept at or above `minJaccardPct`. */
  private def estimated(pairs: DataFrame, sigA: String, sigB: String,
      numPerms: Int, minJaccardPct: Int): DataFrame =
    pairs
      .withColumn("eq_positions",
        aggregate(
          zip_with(col(sigA), col(sigB),
            (a, b) => when(a === b, 1L).otherwise(0L)),
          lit(0L), (acc, x) => acc + x))
      .withColumn("est_jaccard_pct",
        (col("eq_positions") * 100 / numPerms).cast("long"))
      .where(col("est_jaccard_pct") >= minJaccardPct)

  /** Incremental probe: candidate pairs between NEW documents and an
    * EXISTING signature index — the production shape at 100 TB, where
    * yesterday's corpus index is persisted once and today's crawl only
    * computes ITS OWN signatures and probes the band buckets. No
    * index×index pairs are ever formed (that run already happened) and
    * the index is never re-read beyond its (id, band, bucket) rows plus
    * the signatures of actual candidates. Returns
    * (id_new, id_idx, est_jaccard_pct).
    *
    * Occupancy discipline: an index bucket holding more than `maxBucket`
    * members is a degenerate attractor (boilerplate-only signatures) —
    * probing it would pay O(|bucket|) per incoming doc for candidates
    * the verify stage rejects anyway, so such buckets are excluded the
    * same way [[DedupInternals.distinctBucketPairs]] caps within-corpus
    * buckets. The exclusion count is observable by diffing against an
    * uncapped run; callers wanting loud accounting count
    * `n_idx > maxBucket` rows on the bucket-stats frame themselves.
    *
    * Scale shape: one (band, bucket) shuffle on narrow id rows for the
    * probe join (the index side can be pre-bucketed BY band/bucket at
    * index-build time, making the probe a co-located join); signatures
    * join back by id for the agreement estimate only for surviving
    * candidates (AQE broadcasts the usually-small candidate frame).
    */
  def probePairs(indexSigs: DataFrame, newSigs: DataFrame, numPerms: Int,
      minJaccardPct: Int, maxBucket: Int = 256): DataFrame =
    probeCore(
      indexSigs.select(col("id").as("id_idx"),
        posexplode(col("buckets")).as(Seq("band", "bucket"))),
      indexSigs.select(col("id").as("id_idx"), col("sig").as("sig_idx")),
      newSigs, numPerms, minJaccardPct, maxBucket)

  /** The probe body shared by the in-session and persisted index paths:
    * `ib` is the index's exploded (id_idx, band, bucket) rows, `iSig`
    * its (id_idx, sig_idx) payload.
    */
  private def probeCore(ib: DataFrame, iSig: DataFrame,
      newSigs: DataFrame, numPerms: Int, minJaccardPct: Int,
      maxBucket: Int): DataFrame = {
    val nb = newSigs.select(col("id").as("id_new"),
      posexplode(col("buckets")).as(Seq("band", "bucket")))
    val okBuckets = ib.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("n_idx"))
      .where(col("n_idx") <= maxBucket)
      .select("band", "bucket")
    val cand = nb
      .join(okBuckets, Seq("band", "bucket"))
      .join(ib, Seq("band", "bucket"))
      .select("id_new", "id_idx").distinct()
    val nSig = newSigs.select(col("id").as("id_new"),
      col("sig").as("sig_new"))
    estimated(cand.join(nSig, "id_new").join(iSig, "id_idx"),
      "sig_new", "sig_idx", numPerms, minJaccardPct)
      .select("id_new", "id_idx", "est_jaccard_pct")
  }

  /** Per incoming document: the index match with the highest Jaccard
    * estimate (min index id on ties) or a novelty verdict — the
    * verdict shape the q137/q137b entries and the streaming twin
    * share. `newSigs` is the incoming (id, sig, buckets) frame, `cand`
    * a (id_new, id_idx, est_jaccard_pct) candidate frame. Output:
    * (doc_id, best_match, best_jaccard_pct, is_novel).
    */
  def bestMatch(newSigs: DataFrame, cand: DataFrame): DataFrame = {
    val best = cand.groupBy(col("id_new"))
      .agg(max(col("est_jaccard_pct")).as("best_jaccard_pct"))
    val bestId = cand.join(best, Seq("id_new"))
      .where(col("est_jaccard_pct") === col("best_jaccard_pct"))
      .groupBy(col("id_new"), col("best_jaccard_pct"))
      .agg(min(col("id_idx")).as("best_match"))
    newSigs.select(col("id").as("doc_id"))
      .join(bestId, col("doc_id") === col("id_new"), "left")
      .select(col("doc_id"), col("best_match"),
        col("best_jaccard_pct"), col("best_match").isNull.as("is_novel"))
  }

  /** Persist a [[signatures]] frame as the PROBE INDEX two-table
    * layout, making the incremental-probe story durable ACROSS
    * sessions: `<base>_buckets` holds the exploded (id, band, bucket)
    * rows `bucketBy(numBuckets, band, bucket)` — so every later probe's
    * occupancy census and candidate join read the index WITHOUT
    * shuffling it (only the day's small crawl side exchanges, into the
    * index's fixed layout) — and `<base>_sigs` holds the (id, sig)
    * payload bucketed by id for the verify-stage lookup. This is the
    * build-once cost a daily pipeline amortizes: at 100 TB the index is
    * rewritten only to ABSORB a day's accepted documents, not to serve
    * each probe (the [[graft.etl.PartitionedSink.writeBucketed]]
    * precedent, whose SinkSpec proves bucketed joins exchange-free).
    */
  def writeIndex(sigs: DataFrame, tableBase: String,
      numBuckets: Int = 32): Unit = {
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    val spark = sigs.sparkSession
    // rebuild must be idempotent ACROSS sessions: drop a registered
    // table (which clears its managed location), then clear any
    // UNREGISTERED leftover location a previous session's catalog took
    // with it — saveAsTable refuses a non-empty managed location. The
    // sweep goes through the Hadoop FileSystem resolved FROM the
    // warehouse path, so it works identically on local disk, HDFS, or
    // an object store (a java.io.File walk would silently no-op on any
    // non-local filesystem and leave the rebuild refusing).
    def reset(name: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), name)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    reset(s"${tableBase}_buckets")
    reset(s"${tableBase}_sigs")
    writeIndexTables(sigs, tableBase, numBuckets, "overwrite")
    // an in-place rebuild reuses the same warehouse paths, and the
    // session's file-status cache can serve the OLD listing to the next
    // probe — refresh both tables so a rebuild is immediately visible
    spark.catalog.refreshTable(s"${tableBase}_buckets")
    spark.catalog.refreshTable(s"${tableBase}_sigs")
  }

  /** Append a day's ACCEPTED signatures into a [[writeIndex]] index —
    * the absorb step closing the daily loop (build once → probe each
    * day → absorb what survived dedup). Spark appends into bucketed
    * tables under the SAME bucket spec, so the layout contract the
    * probe relies on survives absorption; each absorb adds one file
    * set per bucket (compact with a periodic [[writeIndex]] rebuild
    * when file counts accrete — the
    * [[graft.etl.PartitionedSink.compact]] posture). The caller is
    * responsible for absorbing each id at most once: the index is a
    * set keyed by id, and the probe's distinct() tolerates — but pays
    * for — re-absorbed rows. `numBuckets` must match the index's
    * (Spark refuses an append under a different bucket spec — loudly,
    * which is the behavior we want).
    */
  def absorbIndex(sigs: DataFrame, tableBase: String,
      numBuckets: Int = 32): Unit =
    writeIndexTables(sigs, tableBase, numBuckets, "append")

  /** The two bucketed index tables of [[writeIndex]], written in `mode`. */
  private def writeIndexTables(sigs: DataFrame, tableBase: String,
      numBuckets: Int, mode: String): Unit = {
    sigs.select(col("id"),
        posexplode(col("buckets")).as(Seq("band", "bucket")))
      .write.mode(mode)
      .bucketBy(numBuckets, "band", "bucket").sortBy("band", "bucket")
      .format("parquet").saveAsTable(s"${tableBase}_buckets")
    sigs.select(col("id"), col("sig"))
      .write.mode(mode)
      .bucketBy(numBuckets, "id").sortBy("id")
      .format("parquet").saveAsTable(s"${tableBase}_sigs")
  }

  /** Accretion audit over a persisted index — the lifecycle gauge a
    * daily absorb pipeline reads before deciding to compact: every
    * [[absorbIndex]] call appends ONE file set per touched bucket, so
    * `max_files_per_bucket` ≈ absorb generations since the last
    * rebuild, and `needs_compaction` trips once it crosses
    * `compactAfter`. One row per physical table. The listing runs on
    * the driver through the table's own Hadoop FileSystem (exactly
    * what Spark's scan planner lists anyway — a manifest query is
    * O(files), never O(rows)); file COUNTS depend on write parallelism,
    * so this frame is an operational gauge, not an oracle-comparable
    * result (DedupSpec gates it; the q149 oracle gates the verdicts).
    */
  def indexManifest(spark: org.apache.spark.sql.SparkSession,
      tableBase: String, compactAfter: Int = 4): DataFrame = {
    import spark.implicits._
    val bucketOf = "_(\\d{5})\\.".r
    val rows = Seq("buckets", "sigs").flatMap { suffix =>
      val name = s"${tableBase}_$suffix"
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(name))
      val loc = new org.apache.hadoop.fs.Path(meta.location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(loc).toSeq
        .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
        .map { f =>
          val b = bucketOf.findFirstMatchIn(f.getPath.getName)
            .map(_.group(1).toInt).getOrElse(-1)
          (name, b, f.getLen)
        }
    }
    rows.toDF("table_name", "bucket_id", "bytes")
      .groupBy(col("table_name"), col("bucket_id"))
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("bytes"))
      .groupBy(col("table_name"))
      .agg(sum(col("n_files")).as("n_files"),
        count(lit(1)).as("n_buckets"),
        max(col("n_files")).as("max_files_per_bucket"),
        sum(col("bytes")).as("bytes"))
      .withColumn("needs_compaction",
        col("max_files_per_bucket") > compactAfter)
  }

  /** Rewrite an accreted index back to one file generation per bucket —
    * the compaction [[absorbIndex]]'s per-absorb file sets eventually
    * demand (the [[graft.etl.PartitionedSink.compact]] posture, applied
    * to the bucketed two-table layout): reassemble the logical (id,
    * sig, buckets) rows from the physical tables, snapshot them OFF the
    * table locations (a snapshot — the rebuild is about to drop
    * those locations), then [[writeIndex]] fresh. Re-absorbed ids
    * collapse via the set/distinct fold, so compaction is also the
    * repair step for a violated absorb-once contract. Probe verdicts
    * are invariant across compaction (DedupSpec + the q149 oracle).
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
      tableBase: String, numBuckets: Int = 32): Unit = Store.scoped { st =>
    val b = spark.table(s"${tableBase}_buckets")
    val sigs = st.snapshot(b.groupBy(col("id"))
      .agg(transform(
        array_sort(collect_set(struct(col("band"), col("bucket")))),
        x => x.getField("bucket")).as("buckets"))
      .join(spark.table(s"${tableBase}_sigs").distinct(), "id")
      .select(col("id"), col("sig"), col("buckets")))
    writeIndex(sigs, tableBase, numBuckets)
  }

  /** [[probePairs]] against a [[writeIndex]]-persisted index: identical
    * semantics and output, but the index side arrives pre-bucketed by
    * (band, bucket) so the probe join and the occupancy census are
    * co-located with ZERO index-side exchange (DedupSpec pins the plan).
    */
  def probePersisted(spark: org.apache.spark.sql.SparkSession,
      tableBase: String, newSigs: DataFrame, numPerms: Int,
      minJaccardPct: Int, maxBucket: Int = 256): DataFrame =
    probeCore(
      spark.table(s"${tableBase}_buckets")
        .select(col("id").as("id_idx"), col("band"), col("bucket")),
      spark.table(s"${tableBase}_sigs")
        .select(col("id").as("id_idx"), col("sig").as("sig_idx")),
      newSigs, numPerms, minJaccardPct, maxBucket)

  /** One-shot convenience: signatures + candidate pairs. The signature frame
    * is cached for the lifetime of the returned plan since the pair plan
    * reads it three times (buckets + two payload joins).
    */
  def candidatePairs(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numPerms: Int = 128, bands: Int = 16,
      minJaccardPct: Int = 50, maxBucket: Int = 256): DataFrame = {
    val sigs = Store.cache(
      signatures(docs, idCol, textCol, shingleK, numPerms, bands))
    candidatePairsFromSigs(sigs, numPerms, minJaccardPct, maxBucket)
  }
}

object SimHashDedup {

  /** 64-bit simhash per document. */
  def hashes(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), F.simhash64(F.tokensLower(col(textCol))).as("simhash"))

  /** Near-dup pairs within a Hamming ball: block on 16-bit chunks of the
    * simhash (a pair within Hamming distance 3 of a 64-bit hash must agree
    * on at least one of 4 chunks — pigeonhole), verify exact distance.
    * The Hamming check runs inside the bucket explode on 8-byte hashes, so
    * nothing wide ever shuffles.
    */
  def pairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 1024): DataFrame =
    hammingPairs(hashes(docs, idCol, textCol), idCol, "simhash",
      maxHamming, maxBucket)

  /** The pigeonhole Hamming-ball pair machinery on ANY 64-bit hash
    * column — shared by text SimHash (q18/q31) and image perceptual
    * hashes (q148): block on 16-bit chunks (a pair within distance 3
    * must agree on ≥1 of 4 chunks), verify exact distance inside the
    * bucket explode on 8-byte hashes, so nothing wide ever shuffles.
    * Null-hash rows (e.g. undecodable images) drop before blocking.
    */
  def hammingPairs(hashed: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int = 3, maxBucket: Int = 1024): DataFrame = {
    // 4 chunks guarantee a shared chunk only for distance < 4; a larger
    // radius would silently lose pairs the blocking never co-buckets.
    require(maxHamming < 4, "4-chunk pigeonhole blocking is complete only for maxHamming <= 3")
    val chunked = hashed
      .where(col(hashCol).isNotNull)
      .select(
        col(idCol).as("id"), col(hashCol).as("_h"),
        explode(array((0 until 4).map(i =>
          struct(lit(i).as("chunk_no"),
            shiftrightunsigned(col(hashCol), i * 16)
              .bitwiseAND(lit(0xffffL)).as("chunk"))): _*)).as("c"))
      .select(col("c.chunk_no"), col("c.chunk"),
        struct(col("id"), col("_h")).as("x"))
    chunked
      .groupBy(col("chunk_no"), col("chunk"))
      .agg(sort_array(collect_list(col("x"))).as("xs"))
      .where(size(col("xs")).between(2, maxBucket))
      .select(explode(
        flatten(transform(col("xs"), (a, i) =>
          transform(slice(col("xs"), i + 2, lit(maxBucket)), b =>
            struct(a.getField("id").as("id_a"), b.getField("id").as("id_b"),
              F.hamming(a.getField("_h"), b.getField("_h"))
                .as("hamming")))))).as("p"))
      .select(col("p.id_a"), col("p.id_b"), col("p.hamming"))
      .where(col("hamming") <= maxHamming)
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("hamming")).as("hamming"))
  }
}

object NgramJaccard {

  /** Exact n-gram Jaccard verification over a given candidate-pair frame —
    * the precise re-rank step after LSH candidate generation. Jaccard is
    * computed on distinct word-k-shingle sets with array set ops
    * (codegen'd); the shingle sets join in keyed by id, never shuffled
    * with the pairs.
    */
  def verify(docs: DataFrame, candidates: DataFrame, idCol: String,
      textCol: String, shingleK: Int = 3, minJaccardPct: Int = 50): DataFrame = {
    // Shingle sets are computed ONLY for docs that participate in a
    // candidate pair (left-semi prune) — LSH candidates are sparse, so
    // featurizing the whole corpus for the verify join would dominate the
    // operator's cost at any scale. Set ops then run on 64-bit shingle
    // hashes, not shingle strings: long compares instead of O(len) string
    // compares and ~10× smaller payloads. Jaccard over hashed sets equals
    // Jaccard over string sets up to 64-bit collisions (~1e-14 for the few
    // hundred shingles of a pair).
    val candIds = candidates
      .select(explode(array(col("id_a"), col("id_b"))).as("_cid"))
      .distinct()
    val sets = docs
      .join(broadcast(candIds), col(idCol) === col("_cid"), "left_semi")
      .select(col(idCol).as("id"),
        array_distinct(transform(
          F.shingles(F.tokensLower(col(textCol)), shingleK), s => F.hash64(s)))
          .as("shingles"))
    candidates
      .select("id_a", "id_b")
      .join(sets.select(col("id").as("id_a"), col("shingles").as("sh_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("shingles").as("sh_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard_pct",
        (col("inter") * 100 / greatest(col("uni"), lit(1))).cast("long"))
      .where(col("jaccard_pct") >= minJaccardPct)
      .select("id_a", "id_b", "jaccard_pct")
  }

  /** Exact Jaccard similarity self-join via rare-first prefix filtering
    * (Chaudhuri et al. ICDE'06; Bayardo et al. WWW'07 "All-Pairs"; Xiao et
    * al. WWW'08 PPJoin). A pair with Jaccard >= t MUST share a token among
    * the first |x| - ceil(t*|x|) + 1 tokens of each set under ANY global
    * token order, so only those prefix tokens are posted to the
    * inverted-index self-join, rarest-document-frequency-first. Unlike LSH
    * candidate generation, recall is exactly 1 at every J >= t — no
    * banding miss probability.
    *
    * COST PROFILE — measured, be honest about it: the posting-list join is
    * Σ_tok df(tok)² over prefix tokens, which scales with SHINGLE DOCUMENT
    * FREQUENCY, not with near-dup density. On a shared-vocabulary corpus
    * (sf0.1 documents) that is 34 s vs 0.2 s for banded-LSH candidates +
    * exact verify at the same threshold — the batch-SQL shape cannot apply
    * PPJoin's positional/suffix pruning that keeps the in-memory algorithm
    * subquadratic. Use this as the OFFLINE exactness baseline and for
    * distinctive-token corpora; at scale prefer [[verify]] over
    * [[MinHashDedup.candidatePairs]] with 2-perm bands, whose miss
    * probability at J = t is (1 - t²)^bands (~1e-8 at t=0.5, b=64).
    * Shuffles here: shingle df count, df join-back, per-doc re-collect,
    * the prefix-token join, and the narrow pair dedup — (id, tok, n) rows
    * at widest, never text or full shingle sets. A size-ratio filter
    * (min*100 >= t*max) prunes pairs no verification could pass.
    */
  def exactPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, minJaccardPct: Int = 50): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      explode(array_distinct(transform(
        F.shingles(F.tokensLower(col(textCol)), shingleK),
        s => F.hash64(s)))).as("tok"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val ordered = toks.join(dfreq, "tok")
      .groupBy("id")
      .agg(transform(sort_array(collect_list(struct(col("df"), col("tok")))),
        x => x.getField("tok")).as("sho"))
    val prefixLen = size(col("sho")) -
      ceil(size(col("sho")) * minJaccardPct / 100.0).cast("int") + 1
    val posted = ordered.select(col("id"), size(col("sho")).as("n"),
      explode(slice(col("sho"), lit(1), prefixLen)).as("tok"))
    val cands = posted.select(col("tok"), col("id").as("id_a"), col("n").as("n_a"))
      .join(posted.select(col("tok"), col("id").as("id_b"), col("n").as("n_b")),
        "tok")
      .where(col("id_a") < col("id_b") &&
        least(col("n_a"), col("n_b")) * 100 >=
          greatest(col("n_a"), col("n_b")) * minJaccardPct)
      .select("id_a", "id_b")
      .distinct()
    verify(docs, cands, idCol, textCol, shingleK, minJaccardPct)
  }

  /** Convenience: candidate generation + exact verification in one call.
    * Prefer [[verify]] with a shared candidate frame when MinHash pairs are
    * also needed on their own — candidate generation is the expensive leg.
    */
  def verifiedPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numPerms: Int = 128, bands: Int = 16,
      candidateMinPct: Int = 20, minJaccardPct: Int = 50): DataFrame =
    verify(docs,
      MinHashDedup.candidatePairs(docs, idCol, textCol, shingleK, numPerms,
        bands, candidateMinPct),
      idCol, textCol, shingleK, minJaccardPct)
}

object DedupClusters {

  /** Connected components over a near-dup pair list via hash-min label
    * propagation: every doc starts labeled with its own id; each round a
    * doc adopts the minimum label among itself and its neighbors. Rounds
    * needed = graph diameter — near-dup components are small dense
    * clusters (dup groups), so 2-3 rounds in practice; `maxIter` bounds
    * pathological chains and the loop exits early at the first fixpoint.
    * Each round costs two narrow shuffles (edge⋈label join + min-agg);
    * the driver only ever sees whether a stored round changed any label,
    * never data.
    *
    * Eager: the loop runs while the frame is built. The symmetric edge
    * list is stored once as a plan leaf ([[graft.etl.Store.leaf]]), so
    * each round's queries plan and render one scan instead of the pair
    * list's whole lineage (for the corpus funnel, every upstream stage). The
    * label rounds run through [[graft.etl.Rounds]], whose stop test reads
    * the round's stored `changed` flag; the edge leaf is scoped to the
    * call, so only the final labels stay stored.
    *
    * Output: (id, component) for every id in `docs`, where component is
    * the smallest doc id reachable through pairs (singletons map to
    * themselves) — exactly the "keep one per cluster" key a dedup
    * pipeline groups on.
    */
  def connectedComponents(docs: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 10, failOnMaxIter: Boolean = true): DataFrame =
      Store.scoped { st =>
    val edges = st.leaf(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))))
    // Propagation runs ONLY over nodes that appear in a pair — near-dup
    // edges are sparse, so the iterated frames hold the duplicate
    // subgraph, not the corpus; singletons attach in one outer join at
    // the end.
    //
    // Each round carries a node's own label as `prev` into the min
    // aggregate (neighbor rows carry NULL, which min skips) and stores
    // `changed` with the labels: the stop test then reads one stored
    // round, with no join that shuffles two rounds of labels.
    val res = Rounds.run(
      edges.select(col("src").as("id")).distinct()
        .withColumn("component", col("id")),
      maxIter, storeInit = true,
      stop = (next, _, _) =>
        next.where(col("changed")).limit(1).count() == 0) { (labels, _) =>
      val own = labels.select(col("id"), col("component"),
        col("component").as("prev"))
      val viaNeighbor = edges
        .join(labels.select(col("id").as("dst"), col("component")), "dst")
        .select(col("src").as("id"), col("component"),
          lit(null).cast(labels.schema("component").dataType).as("prev"))
      own.unionByName(viaNeighbor)
        .groupBy("id")
        .agg(min(col("component")).as("component"), min(col("prev")).as("prev"))
        .select(col("id"), col("component"),
          (col("component") =!= col("prev")).as("changed"))
    }
    // A non-fixpoint exit would silently return PARTIALLY-merged components
    // (any chain with diameter > maxIter) — that is data corruption for a
    // dedup keep-one-per-cluster consumer, so the default is to fail loudly;
    // opt out only for diagnostics on a known-pathological graph.
    if (!res.stopped) {
      val msg = s"connectedComponents did not reach a fixpoint in $maxIter " +
        "iterations — labels are partially merged (graph diameter exceeds " +
        "maxIter); raise maxIter"
      if (failOnMaxIter) throw new IllegalStateException(msg)
      else org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
    docs.select(col(idCol).as("id"))
      .join(res.last.select(col("id"), col("component").as("_c")), Seq("id"),
        "left")
      .withColumn("component", coalesce(col("_c"), col("id")))
      .drop("_c")
  }
}

object Contamination {

  /** Benchmark decontamination: for each held-out benchmark document, the
    * fraction of its distinct word-k-shingles that appear ANYWHERE in the
    * training corpus — the standard train/test overlap metric. Both sides
    * reduce to 64-bit shingle hashes before the join, so the corpus side
    * shuffles (hash) longs, not text; the corpus shingle set is
    * de-duplicated before joining (one row per distinct shingle, however
    * many documents contain it).
    */
  def overlap(corpus: DataFrame, corpusText: String, bench: DataFrame,
      benchId: String, benchText: String, shingleK: Int): DataFrame = {
    def shingleHashes(df: DataFrame, text: String) =
      df.select(explode(array_distinct(transform(
        F.shingles(F.tokensLower(col(text)), shingleK), s => F.hash64(s))))
        .as("h"))
    val corpusShingles = shingleHashes(corpus, corpusText).distinct()
      .withColumn("hit", lit(1L))
    bench
      .select(col(benchId).as("bench_id"),
        explode(array_distinct(transform(
          F.shingles(F.tokensLower(col(benchText)), shingleK),
          s => F.hash64(s)))).as("h"))
      .join(corpusShingles, Seq("h"), "left")
      .groupBy(col("bench_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("contaminated_pct",
        (col("n_hit") * 100 / col("n_shingles")).cast("long"))
  }
}

/** Duplicated-n-gram document statistics — the occurrence-weighted
  * intra-corpus cousin of [[Contamination]]: for each document, the share
  * of its word-k-gram OCCURRENCES whose gram also appears in at least one
  * OTHER document. High shares flag boilerplate/template documents that
  * per-document dedup misses (the RefinedWeb / Gopher "fraction of
  * characters in duplicated n-grams" family of quality filters).
  *
  * Scale shape: grams reduce to 64-bit hashes map-side; shuffles carry
  * (doc_id, hash, count) and (hash, doc-frequency) — never text. Two
  * aggregations + one hash-keyed join; gram df is Zipf-ish but the rows
  * are 24 bytes, and AQE's skew split covers the head grams.
  */
object DupNgramStats {

  def fraction(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    // null text must not fabricate an empty-string gram (concat_ws inside
    // the shingle transform maps a null slice to "")
    val grams = docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        explode(transform(F.shingles(F.tokensLower(col(textCol)), k),
          s => F.hash64(s))).as("h"))
    val perDoc = grams.groupBy(col("doc_id"), col("h"))
      .agg(count(lit(1)).as("occ"))
    val docFreq = perDoc.groupBy(col("h"))
      .agg(count(lit(1)).as("ndocs"))
    perDoc.join(docFreq, "h")
      .groupBy(col("doc_id"))
      .agg(sum(col("occ")).as("n_grams"),
        sum(when(col("ndocs") >= 2, col("occ")).otherwise(0L)).as("n_dup"))
      .withColumn("dup_pct",
        (col("n_dup") * 100 / col("n_grams")).cast("long"))
  }
}

/** ExactSubstr-style duplicated-SPAN detection (Lee et al. 2022, arXiv
  * 2107.06499 "Deduplicating Training Data Makes Language Models
  * Better" — public): where q68 counts how MANY of a document's k-grams
  * are duplicated somewhere in the corpus, this measures the longest
  * CONSECUTIVE run of them — the length of the document's longest
  * substring that also appears elsewhere (a k-gram-quantized lower
  * bound: a shared substring of t tokens is exactly a run of t−k+1
  * shared k-grams). The paper's dedup rule drops/edits documents with a
  * duplicated substring ≥ ~50 tokens; q68's occurrence share can't see
  * the difference between 30 scattered dup 5-grams (boilerplate
  * vocabulary) and one 34-token verbatim block (true copy) — the run
  * structure is the signal.
  *
  * Scale shape: (doc_id, pos, hash) triples — 24-byte rows, never text —
  * through one hash-keyed shuffle (corpus-wide occurrence counts), then
  * one doc-keyed window for the run grouping (pos − row_number — the
  * classic gaps-and-islands reduction) and a per-(doc, run) count. Every
  * aggregation is partial-agg friendly; nothing is quadratic in
  * document length and nothing wide ever shuffles. "Appears elsewhere"
  * is total corpus occurrences ≥ 2, which (like the paper) includes a
  * second occurrence inside the SAME document.
  */
object DupSpans {

  /** Per non-null-text document: the longest duplicated span in tokens
    * (0 when no k-gram is shared) and the paper's drop verdict
    * (span ≥ `minSpanTokens`). Output: (doc_id, max_dup_span,
    * is_dropped).
    */
  def maxDupSpan(docs: DataFrame, idCol: String, textCol: String,
      k: Int, minSpanTokens: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val grams = base
      .select(col("doc_id"),
        posexplode(transform(F.shingles(F.tokensLower(col("text")), k),
          s => F.hash64(s))).as(Seq("pos", "h")))
    val occTotal = grams.groupBy(col("h"))
      .agg(count(lit(1)).as("occ"))
    val dupPos = grams.join(occTotal.where(col("occ") >= 2), "h")
      .select(col("doc_id"), col("pos"))
    // gaps-and-islands: consecutive dup positions share (pos − rank)
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val runs = dupPos
      .withColumn("grp", col("pos") - row_number().over(byDoc))
      .groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("run_len"))
      .groupBy(col("doc_id"))
      .agg((max(col("run_len")) + (k - 1)).as("span"))
    base.join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("span"), lit(0L)).as("max_dup_span"),
        (coalesce(col("span"), lit(0L)) >= minSpanTokens).as("is_dropped"))
  }
}

object Packing {

  /** Greedy sequence packing: route documents to `partitions` deterministic
    * bins by id hash, pack each bin in id order into sequences of at most
    * `maxTokens` (a document longer than the budget gets its own
    * sequence). Packing is embarrassingly parallel — each bin packs
    * independently with zero coordination — and fully deterministic, so a
    * re-run regenerates identical training sequences. Fill efficiency
    * trades against parallelism only through the bin count.
    *
    * The bin is a PURE FUNCTION of the id — the top 63 bits of
    * F.murmur64 (DuckDB's hash(BIGINT) finalizer) mod `partitions`, the
    * q41/q82 trick — NOT the physical partition id, and the per-bin state
    * resets on bin change rather than trusting bin↔task alignment. That
    * makes (seq_id, seq_pos) reproducible in ANY engine with the same
    * hash: the q46 oracle replays the first-fit scan as a DuckDB
    * recursive CTE and matches bit-for-bit.
    *
    * Output: (doc_id, n_tokens, seq_id, seq_pos); seq_id is unique across
    * bins (bin * 2^40 + counter).
    */
  def firstFit(docs: DataFrame, idCol: String, nTokensCol: Column,
      maxTokens: Long, partitions: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        nTokensCol.cast("long").as("n_tokens"),
        (shiftrightunsigned(F.murmur64(col(idCol).cast("long")), 1)
          % partitions).as("bin"))
      .repartition(partitions, col("bin"))
      .sortWithinPartitions(col("bin"), col("doc_id"))
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        // a physical partition may hold several bins (placement hashes the
        // bin value); rows arrive sorted by (bin, id), so state resets at
        // each bin boundary keep every bin's packing self-contained
        var curBin = -1L
        var seq = 0L
        var used = 0L
        var pos = 0L
        it.map { case (id, n, bin) =>
          if (bin != curBin) { curBin = bin; seq = 0L; used = 0L; pos = 0L }
          if (pos > 0L && used + n > maxTokens) { seq += 1; used = 0L; pos = 0L }
          used += n; pos += 1
          (id, n, (bin << 40) | seq, pos)
        }
      }
      .toDF("doc_id", "n_tokens", "seq_id", "seq_pos")
  }
}

object EmbeddingDedup {

  /** Embedding near-dup pairs: banded random-hyperplane LSH (`tables`
    * independent codes of `planes` sign bits — AND within a table, OR
    * across tables). A single AND-only code (the naive construction) has
    * recall (1-θ/π)^planes ≈ 20% at cosine 0.5 — the banded union is what
    * makes recall → 1, exactly like the MinHash band scheme.
    *
    * CALIBRATION (measured on a 10× synthetic scale-up): `planes` must
    * grow ~log2(corpus) to keep 2^planes buckets below `maxBucket` —
    * under-partitioning makes hot buckets hit the occupancy cap and
    * silently drop pairs (planes=4 is sized for ~10^4 vectors; use ~8 at
    * 10^5-10^6, ~16 beyond). Low thresholds are intrinsically hostile to
    * hyperplane LSH: at τ≈0.5 the per-table collision odds of a TRUE pair
    * (~0.2 at planes=4) sit close to a RANDOM pair's (~0.06), so recall
    * needs tens of tables while candidates approach all-pairs. The scheme
    * shines at τ ≥ 0.9 (true-pair odds ~0.65/table vs random ~0.06);
    * for weak-similarity search use IvfAnn instead.
    *
    * Verification is INLINE: the exact cosine is computed while exploding
    * in-bucket pairs and the ≥ minCosine filter runs before anything
    * shuffles again, so the pair-dedup exchange carries only the sparse
    * survivors (near-dup output), not the dense candidate set. The bucket
    * shuffle carries (id, vec) — vectors ride along once per table; the
    * alternative (ids only + two vector joins after a dense-pair dedup)
    * shuffles the full candidate pair set, which is orders of magnitude
    * larger whenever near-dups are rare.
    */
  def pairs(embeddings: DataFrame, idCol: String, vecCol: String,
      planes: Int = 8, tables: Int = 16, minCosine: Double = 0.95,
      maxBucket: Int = 4096): DataFrame = {
    val coded = embeddings.select(
      posexplode(F.hyperplaneCodes(col(vecCol), planes, tables))
        .as(Seq("table", "code")),
      struct(col(idCol).as("id"), col(vecCol).as("vec")).as("x"))
    coded
      .groupBy(col("table"), col("code"))
      .agg(sort_array(collect_list(col("x"))).as("xs"))
      .where(size(col("xs")).between(2, maxBucket))
      .select(explode(
        flatten(transform(col("xs"), (a, i) =>
          transform(slice(col("xs"), i + 2, lit(maxBucket)), b =>
            struct(a.getField("id").as("id_a"), b.getField("id").as("id_b"),
              F.cosine(a.getField("vec"), b.getField("vec")).as("cos"))))))
        .as("p"))
      .where(col("p.cos") >= minCosine)
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()
  }

  /** Payload-slim variant of [[pairs]] for WIDE vectors (≥ ~4 KB — long
    * embeddings make the (id, vec)×tables bucket shuffle of [[pairs]] the
    * dominant cost): the bucket shuffle carries ONLY (table, code, id),
    * candidate pairs dedup on narrow ids, and vectors join back exactly
    * twice for the survivors' exact-cosine verification. The trade
    * reverses when near-dups are dense: the dense candidate pair set then
    * shuffles twice through the joins, which [[pairs]]' inline
    * verification avoids — hence two entry points instead of a flag
    * buried in a heuristic. Results are identical (DedupSpec asserts it).
    */
  def pairsSlim(embeddings: DataFrame, idCol: String, vecCol: String,
      planes: Int = 8, tables: Int = 16, minCosine: Double = 0.95,
      maxBucket: Int = 4096): DataFrame = {
    val coded = embeddings.select(
      posexplode(F.hyperplaneCodes(col(vecCol), planes, tables))
        .as(Seq("table", "code")),
      col(idCol).as("id"))
    val cands = DedupInternals
      .distinctBucketPairs(coded, Seq("table", "code"), "id", maxBucket)
    val vecs = embeddings.select(col(idCol).as("id"), col(vecCol).as("vec"))
    cands
      .join(vecs.select(col("id").as("id_a"), col("vec").as("vec_a")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("vec").as("vec_b")), "id_b")
      .where(F.cosine(col("vec_a"), col("vec_b")) >= minCosine)
      .select("id_a", "id_b")
  }

  /** Occupancy-cap observability: per LSH table, how many buckets exceed
    * `maxBucket` and how many rows sit inside them — the rows whose pairs
    * [[pairs]]/[[pairsSlim]] silently exclude. An over-capped table means
    * `planes` is undersized for the corpus (see [[planesFor]]); wire this
    * into the same job as the pair generation (it reuses the bucket
    * aggregate shape) and alert on nonzero counts instead of discovering
    * recall loss downstream.
    */
  def droppedBuckets(embeddings: DataFrame, idCol: String, vecCol: String,
      planes: Int = 8, tables: Int = 16, maxBucket: Int = 4096): DataFrame =
    embeddings.select(
      posexplode(F.hyperplaneCodes(col(vecCol), planes, tables))
        .as(Seq("table", "code")),
      col(idCol).as("id"))
      .groupBy(col("table"), col("code"))
      .agg(count(lit(1)).as("n"))
      .where(col("n") > maxBucket)
      .groupBy(col("table"))
      .agg(count(lit(1)).as("n_over_cap_buckets"),
        sum(col("n")).as("n_rows_in_over_cap"))

  /** The calibration rule from §4's 10× probe as code: size `planes` so the
    * EXPECTED bucket occupancy (corpus / 2^planes) stays a comfortable
    * factor under the cap — hot buckets run well above expectation.
    * planes=5 at 10^4 vectors, 8 at 10^5, 11 at 10^6, ~21 at 10^9.
    */
  def planesFor(corpusSize: Long, targetOccupancy: Int = 512): Int =
    math.max(4, math.ceil(
      math.log(math.max(1.0, corpusSize.toDouble / targetOccupancy)) /
        math.log(2.0)).toInt)

  /** Occupancy-SHRINKING calibration (the r10 100× decade probe's lesson):
    * [[planesFor]] bounds occupancy but keeps it CONSTANT, so candidate
    * volume n·occupancy·tables grows linearly in n — a 10× decade costs
    * ~10× wall on fixed hardware. Growing planes at `exponent`·log2
    * instead makes occupancy ∝ n^(1-exponent) (n^-1/4 at the 1.25
    * default), so candidate volume is ∝ n^(2-exponent) = n^3/4 —
    * sublinear by construction. The price is paid exactly where the
    * operator's scaladoc already points: per-table collision odds of a
    * borderline-τ pair fall with planes, so weak-similarity (τ ≈ 0.5)
    * completeness degrades while high-τ recall is untouched (at
    * planes=11, cos 0.999 → per-table 0.85, miss over 32 tables ≈ 1e-27;
    * the r10 probe measured recall 1.0 on 400k planted cos-0.999 pairs
    * at 2·10^5 vectors). Agrees with [[planesFor]] (= 4) below
    * ~2·10^3 vectors, so small-corpus callers see identical results.
    */
  def planesForSublinear(corpusSize: Long, targetOccupancy: Int = 512,
      exponent: Double = 1.25): Int =
    math.max(4, math.ceil(exponent *
      math.log(math.max(1.0, corpusSize.toDouble / targetOccupancy)) /
        math.log(2.0)).toInt)
}
