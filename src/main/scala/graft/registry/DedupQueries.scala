package graft
package registry

import graft.dedup._
import graft.etl.Store
import graft.functions.{F, TextStats}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication queries over `documents` and `embeddings`: exact,
  * minhash, simhash, n-gram, embedding and semantic dedup, substring spans,
  * clustering, incremental probes and contamination.
  */
private[graft] object DedupQueries {
  import Shared._

  /** q137/q137b shared best-match shape (the library verdict surface —
    * also what the streaming probe twin emits).
    */
  private def bestProbeMatch(inc: DataFrame, cand: DataFrame): DataFrame =
    MinHashDedup.bestMatch(inc, cand)

  /** q137/q137b/q149's signatures of the `docs` rows `pred` keeps. Not
    * stored: a few dozen deterministic signatures recompute for free,
    * and a builder has no scope that could free them.
    */
  private def probeSigs(docs: DataFrame, pred: Column): DataFrame =
    MinHashDedup.signatures(docs.where(pred), "doc_id", "text",
      ShingleK, NumPerms, Bands)

  /** The q175/q176/q178 shared ExactSubstr substrate (VERDICT r18 task
    * 4 — the three queries previously each re-ran the full
    * prefix-doubling build): ONE level-3 rank build (length-8 windows)
    * + per-doc lengths + the length-12 duplicated-window starts,
    * persisted DISK_ONLY and memoized per (session, sf) — the q137b
    * persisted-index posture; Bench's warm-up pass materializes it so
    * the one-time build cost isn't billed to a single query.
    */
  private def exsubShared(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) =
    memoized(s, s"exsub|$dir") {
      val docs = Tables(s, dir).documents
      val (r3, lens) =
        graft.dedup.ExactSubstr.rankAndLens(docs, "doc_id", "text", 3)
      val starts = Store.snapshot(graft.dedup.ExactSubstr
        .dupWindowStartsFrom(r3, 3, lens, 12L), StorageLevel.DISK_ONLY)
      (r3, lens, starts)
    }

  /** q175/q176 oracle blocks: duplicated fixed-length windows by
    * LITERAL substring grams (the exact semantics the rank construction
    * computes hash-free) + the gaps-and-islands union. One block per
    * probe length, names suffixed by L.
    */
  private def dupWindowBlock(l: Int): String =
    s"""g$l AS (
       |  SELECT doc_id, i, substr(text, CAST(i AS BIGINT), $l) AS gram
       |  FROM (SELECT doc_id, text,
       |    unnest(generate_series(1, length(text) - ${l - 1})) AS i
       |    FROM t)
       |),
       |d$l AS (
       |  SELECT doc_id, i, gram FROM (
       |    SELECT doc_id, i, gram,
       |      COUNT(*) OVER (PARTITION BY gram) AS occ FROM g$l)
       |  WHERE occ >= 2
       |),
       |i$l AS (
       |  SELECT doc_id, i, SUM(newi) OVER (PARTITION BY doc_id ORDER BY i
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
       |  FROM (SELECT doc_id, i, CASE WHEN i > coalesce(lag(i) OVER
       |    (PARTITION BY doc_id ORDER BY i), -1000000000) + $l
       |    THEN 1 ELSE 0 END AS newi FROM d$l)
       |),
       |sp$l AS (
       |  SELECT doc_id, CAST(MIN(i) AS BIGINT) AS span_start,
       |    CAST(MAX(i) + $l AS BIGINT) AS span_end
       |  FROM i$l GROUP BY doc_id, isl
       |)""".stripMargin

  /** Minhash LSH config shared by q17/q19. Bands = 64 → 2 perms per band:
    * the miss probability at the q19 verify threshold J = 0.5 is
    * (1 - 0.5²)^64 ≈ 1e-8 (vs 12.7% with the r1/r2 4-perm bands — the
    * ADVICE r2 mid-J gap), so LSH candidate restriction is invisible to
    * the exact all-pairs oracle across the whole J ≥ 0.5 population, not
    * just J ≥ 0.9. Narrower bands cost one extra (band, bucket, id) row
    * per doc per band — still a narrow shuffle.
    */
  private val ShingleK = 2

  private val NumPerms = 128

  private val Bands = 64

  private def minhashCandidates(s: SparkSession, dir: String): DataFrame =
    memoized(s, s"cands|$dir") {
      Store.cache(MinHashDedup.candidatePairs(Tables(s, dir).documents,
        "doc_id", "text", ShingleK, NumPerms, Bands, minJaccardPct = 5))
    }

  /** The q19-verified pairs (Jaccard ≥ 50% over [[minhashCandidates]]),
    * persisted and memoized per (session, sf): q37, q56 and q69 share them. */
  private def verifiedPairs(s: SparkSession, dir: String): DataFrame =
    memoized(s, s"vpairs|$dir") {
      Store.cache(NgramJaccard.verify(Tables(s, dir).documents,
        minhashCandidates(s, dir), "doc_id", "text", ShingleK,
        minJaccardPct = 50))
    }

  /** Word-2-shingle distinct sets in DuckDB, mirroring F.shingles(k=2). */
  private val duckShingleSets: String =
    """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
      |s AS (SELECT doc_id, list_distinct(list_transform(
      |  generate_series(1, greatest(len(toks)-1, 1)),
      |  i -> CASE WHEN i+1 <= len(toks) THEN toks[i] || ' ' || toks[i+1]
      |       ELSE toks[i] END)) AS sh FROM t)""".stripMargin

  /** The shared minhash replay (docs < 32 → tokenize → shingle →
    * recursive-CTE FNV → splitmix permutations → signatures `sigl` →
    * band buckets `bk`) — the CTE chain both the q17 within-corpus
    * oracle and the q137 incremental-probe oracle build on.
    */
  private lazy val minhashCtes: String = minhashCtesN(32)

  /** The minhash CTE chain over `doc_id < limit` — 32 for the q17/q137
    * fixtures, 48 for q149's lifecycle fixture (whose probe docs live
    * in [32, 48)).
    */
  private def minhashCtesN(limit: Int): String = {
    val np = NumPerms; val bands = Bands; val rpb = np / bands
    val prime = "1099511628211"
    var h = s"xor(CAST(${u64("cbf29ce484222325")} AS HUGEINT), CAST(b AS HUGEINT))"
    for (r <- 0 until rpb)
      h = s"(((xor($h, sig[$rpb*b+${r + 1}])) * $prime) % $m64)"
    val permG = splitmixSql(
      s"xor(th, (CAST(${u64("9e3779b97f4a7c15")} AS HUGEINT) * (p+1)) % $m64)")
    s"""d32 AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id < $limit AND text IS NOT NULL AND trim(text) <> ''
       |),
       |toks AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk FROM d32
       |),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    CASE WHEN i+2 <= nt THEN tk[i+1] || ' ' || tk[i+2] ELSE tk[i+1] END AS s
       |  FROM (SELECT doc_id, tk, len(tk) AS nt,
       |          unnest(generate_series(0, greatest(len(tk)-$ShingleK, 0))) AS i
       |        FROM toks)
       |),
       |shfnv AS (
       |  WITH RECURSIVE r AS (
       |    SELECT doc_id, s, 1 AS pos, CAST(${u64("cbf29ce484222325")} AS HUGEINT) AS h FROM sh
       |    UNION ALL
       |    SELECT doc_id, s, pos+1,
       |      CAST((xor(h, CAST(ascii(substr(s,pos,1)) AS HUGEINT)) * $prime) % $m64 AS HUGEINT)
       |    FROM r WHERE pos <= length(s)
       |  )
       |  SELECT doc_id, ${splitmixSql("h")} AS th FROM r WHERE pos = length(s) + 1
       |),
       |mins AS (
       |  SELECT doc_id, p, MIN(g) AS mn FROM (
       |    SELECT f.doc_id, pr.p, $permG AS g
       |    FROM shfnv f CROSS JOIN (SELECT CAST(range AS BIGINT) AS p FROM range($np)) pr)
       |  GROUP BY doc_id, p
       |),
       |sigl AS (SELECT doc_id, LIST(mn ORDER BY p) AS sig FROM mins GROUP BY doc_id),
       |bk AS (
       |  SELECT doc_id, b, ${splitmixSql(h)} AS bucket
       |  FROM sigl CROSS JOIN (SELECT CAST(range AS BIGINT) AS b FROM range($bands))
       |)""".stripMargin
  }

  /** q137: the same minhash replay, restricted to the PROBE direction —
    * odd ids (the crawl) pair only against even ids (the index), index
    * buckets over 256 members excluded, best match per incoming doc by
    * (max estimate, min index id), unmatched docs verdict novel.
    */
  private lazy val q137OracleSql: String = {
    val np = NumPerms
    s"""WITH $minhashCtes,
       |bkE AS (SELECT doc_id, b, bucket FROM bk WHERE doc_id % 2 = 0),
       |bkO AS (SELECT doc_id, b, bucket FROM bk WHERE doc_id % 2 = 1),
       |okb AS (
       |  SELECT b, bucket FROM bkE GROUP BY b, bucket
       |  HAVING COUNT(*) <= 256
       |),
       |cand AS (
       |  SELECT DISTINCT o.doc_id AS id_new, e.doc_id AS id_idx
       |  FROM bkO o JOIN okb USING (b, bucket) JOIN bkE e USING (b, bucket)
       |),
       |scored AS (
       |  SELECT c.id_new, c.id_idx,
       |    CAST((len(list_filter(generate_series(1, $np),
       |      q -> a.sig[q] = e.sig[q])) * 100) // $np AS BIGINT) AS est
       |  FROM cand c JOIN sigl a ON a.doc_id = c.id_new
       |    JOIN sigl e ON e.doc_id = c.id_idx
       |),
       |pos AS (SELECT * FROM scored WHERE est >= 5),
       |best AS (
       |  SELECT id_new, max(est) AS best_jaccard_pct FROM pos
       |  GROUP BY id_new
       |),
       |bestid AS (
       |  SELECT s.id_new, bst.best_jaccard_pct,
       |    min(s.id_idx) AS best_match
       |  FROM pos s JOIN best bst ON s.id_new = bst.id_new
       |    AND s.est = bst.best_jaccard_pct
       |  GROUP BY s.id_new, bst.best_jaccard_pct
       |)
       |SELECT n.doc_id, bi.best_match, bi.best_jaccard_pct,
       |  bi.best_match IS NULL AS is_novel
       |FROM (SELECT doc_id FROM d32 WHERE doc_id % 2 = 1) n
       |LEFT JOIN bestid bi ON bi.id_new = n.doc_id""".stripMargin
  }

  /** [[duckHash64Tokens]] extended with the simhash bit-vote: CTE `sim`
    * is (doc_id, simhash) — per bit, sign of the vote over the token
    * hashes, reassembled and reinterpreted signed. Shared by the q18
    * (codes) and q31 (Hamming-ball pairs) oracles.
    */
  private val duckSimhash: String =
    s"""$duckHash64Tokens,
       |bits AS (
       |  SELECT f.doc_id, t.b,
       |    CASE WHEN SUM(CASE WHEN (f.th // (CAST(1 AS HUGEINT) << t.b)) % 2 = 1
       |                       THEN 1 ELSE -1 END) > 0
       |         THEN CAST(1 AS HUGEINT) << t.b ELSE CAST(0 AS HUGEINT) END AS contrib
       |  FROM fnv f CROSS JOIN (SELECT CAST(range AS INTEGER) AS b FROM range(64)) t
       |  GROUP BY f.doc_id, t.b
       |),
       |sim AS (
       |  SELECT doc_id, ${toSigned64("s")} AS simhash
       |  FROM (SELECT doc_id, SUM(contrib) AS s FROM bits GROUP BY doc_id)
       |)""".stripMargin

  val all: Seq[QueryDef] = Seq(
    // 16. exact dedup groups (shuffles a 16-byte hash key, not the text)
    QueryDef("q16_dedup_exact", (s, dir) =>
      ExactDedup.groups(Tables(s, dir).documents, "doc_id", "text")
        .select("keep_id", "n_dups"),
      oracle = Some("SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_dups FROM documents GROUP BY text")),

    // 17. minhash-LSH candidate pairs, demonstrated on a bounded 32-doc
    // slice so the WHOLE construction is oracle-exact (VERDICT r7 task 3b:
    // the 128-perm CTE replay is a cost wall at full corpus width — the
    // slice keeps the oracle cheap while DuckDB replays every stage:
    // shingle FNV hashes, 128 per-perm unsigned minima, 64 band folds,
    // bucket grouping, pair formation, and the signature-agreement
    // estimate). The FULL-width candidate path stays exercised and
    // oracle-covered end-to-end through q19's exact all-pairs Jaccard
    // oracle (plus q37/q56/q69, which consume the same memoized pairs).
    QueryDef("q17_minhash_pairs", (s, dir) =>
      MinHashDedup.candidatePairs(
        Tables(s, dir).documents.where(col("doc_id") < 32),
        "doc_id", "text", ShingleK, NumPerms, Bands, minJaccardPct = 5),
      // q17 (r8 flip): the slice-wide LSH construction, replayed fully
      // q17 oracle: the minhash-LSH pair construction replayed end-to-end on
      // the 32-doc slice — per-shingle FNV+splitmix hashes (recursive CTE),
      // 128 per-permutation unsigned minima (HUGEINT MIN = JVM unsignedLt),
      // the 64 band folds (xor-multiply mod 2^64), bucket grouping with the
      // 2..256 occupancy gate, ordered pair formation, and the
      // signature-agreement estimate with floor division (Spark's
      // double-div + cast-long truncation = `//` for non-negatives).
      oracle = Some {
        val np = NumPerms
        s"""WITH $minhashCtes,
           |grp AS (
           |  SELECT b, bucket, LIST(doc_id ORDER BY doc_id) AS ids
           |  FROM bk GROUP BY b, bucket HAVING COUNT(*) BETWEEN 2 AND 256
           |),
           |cand AS (
           |  SELECT DISTINCT x.ids[i.i] AS id_a, x.ids[j.j] AS id_b
           |  FROM grp x
           |  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(x.ids))) AS i) i
           |  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(x.ids))) AS j) j
           |  WHERE i.i < j.j
           |)
           |SELECT c.id_a, c.id_b,
           |  CAST((len(list_filter(generate_series(1, $np), q -> a.sig[q] = b.sig[q])) * 100) // $np AS BIGINT) AS est_jaccard_pct
           |FROM cand c JOIN sigl a ON a.doc_id = c.id_a JOIN sigl b ON b.doc_id = c.id_b
           |WHERE (len(list_filter(generate_series(1, $np), q -> a.sig[q] = b.sig[q])) * 100) // $np >= 5""".stripMargin
      }),

    // 18. simhash per doc [rows-only; unit-gated in HashingSpec]
    QueryDef("q18_simhash", (s, dir) =>
      SimHashDedup.hashes(Tables(s, dir).documents, "doc_id", "text"),
      oracle = Some(s"""$duckSimhash
           |SELECT doc_id, simhash FROM sim""".stripMargin)),

    // 19. exact n-gram jaccard over the SHARED q17 candidates. With r=2
    // bands (see the Bands doc above) the candidate miss probability at
    // the J=0.5 verify threshold is ~1e-8 — the restriction is invisible
    // to the all-pairs DuckDB oracle across the ENTIRE output population
    // (ADVICE r2's mid-J regime included, DedupSpec-planted). The fully
    // exact prefix-filtered join (NgramJaccard.exactPairs) stays the
    // offline option: recall exactly 1 at any J, but its posting-list
    // join scales with shingle document frequency, not near-dup density —
    // 160x slower on this corpus (34 s vs 0.2 s at sf0.1).
    QueryDef("q19_ngram_jaccard", (s, dir) =>
      NgramJaccard.verify(Tables(s, dir).documents,
        minhashCandidates(s, dir), "doc_id", "text", ShingleK,
        minJaccardPct = 50),
      oracle = Some(s"""$duckShingleSets,
           |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |  len(list_intersect(a.sh, b.sh)) AS inter,
           |  len(list_distinct(list_concat(a.sh, b.sh))) AS uni
           |  FROM s a JOIN s b ON a.doc_id < b.doc_id)
           |SELECT id_a, id_b,
           |  CAST(floor(inter * 100.0 / greatest(uni, 1)) AS BIGINT) AS jaccard_pct
           |FROM p WHERE floor(inter * 100.0 / greatest(uni, 1)) >= 50""".stripMargin)),

    // 20. embedding cosine near-dup pairs via BANDED hyperplane LSH
    // (32 tables × 4 planes: recall at cos 0.5 is 1-(1-0.2)^32 ≈ 0.9993
    // vs ~0.2 for r1's single AND-only code), exact-cosine verified,
    // DuckDB all-pairs oracle. `planes` grows with corpus size per the
    // operator's documented calibration (EmbeddingDedup.pairs scaladoc:
    // 2^planes buckets must keep occupancy under the cap — the r8 100×
    // probe measured the alternative: at 2·10^5 vectors every 4-bit
    // bucket blows past maxBucket and the occupancy gate drops ALL of
    // them, recall 0). The 1.25 exponent makes the calibration
    // occupancy-SHRINKING (r10): with planes = ceil(log2(n/512)) exactly,
    // occupancy n/2^planes is bounded but CONSTANT, so total candidate
    // work n·occupancy·tables is linear in n — the r10 100× probe
    // measured the pair family's only superlinear decade (≈12× adjusted
    // for load). Growing planes at 1.25·log2 shrinks occupancy ∝ n^-1/4,
    // making candidate volume ∝ n^3/4 — sublinear by construction.
    // Oracle SFs have ≤ 2·10^3 vectors → planes stays 4 there (both
    // formulas agree below the n/512 boundary), so the oracle contract
    // is untouched; at probe scale wider codes keep within-clique recall
    // ≈ 1 (miss < 1e-27 at planes 11, cos .999) while low-τ (≈ 0.5)
    // completeness degrades as documented — hyperplane LSH is a high-τ
    // scheme; IvfAnn is the weak-similarity path.
    QueryDef("q20_embed_neardup", (s, dir) => {
      val e = Tables(s, dir).embeddings
      // sizing count from the unspread scan (tableRowCount) — same n,
      // no full-data exchange before the operator starts (VERDICT r10)
      EmbeddingDedup.pairs(e, "vec_id", "embedding",
        planes = EmbeddingDedup.planesForSublinear(
          tableRowCount(s, dir, "embeddings")),
        tables = 32, minCosine = 0.5)
    },
      oracle = Some("""SELECT a.vec_id AS id_a, b.vec_id AS id_b
          |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.5""".stripMargin)),

    // 20j. EXACT substring dup spans by distributed prefix-doubling
    // (VERDICT r17 next-task 6 — the suffix-array-rank construction
    // that closes q93's documented deviation from Lee et al. 2022's
    // ExactSubstr): character-level, hash-free. Rank tables by
    // ⌈log₂L⌉ rounds of pair-and-re-rank through the etl.Prefix
    // distributed rank (24-byte rows, never text, no SinglePartition);
    // length-12 windows keyed by the sparse-table rank pair; duplicated
    // window extents unioned into maximal per-doc spans with EXACT
    // boundaries. FULL oracle: DuckDB enumerates the literal 12-char
    // grams (exact strings — the semantics, not the algorithm),
    // counts occurrences corpus-wide, and merges islands identically.
    QueryDef("q175_exact_dup_spans", (s, dir) => {
      val (_, _, starts) = exsubShared(s, dir)
      graft.dedup.ExactSubstr.dupSpansFromStarts(starts, 12L)
    },
      // q175/q176: exact-substring semantics replayed with LITERAL grams
      // (the rank construction computes the same answer hash-free)
      oracle = Some(s"""WITH t AS (
           |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
           |),
           |${dupWindowBlock(12)}
           |SELECT doc_id, span_start, span_end,
           |  span_end - span_start AS span_len
           |FROM sp12""".stripMargin)),

    // 20k. corpus repetition profile at power-of-two probe lengths
    // (the Lee et al. "how much text is duplicated" table): per probe —
    // duplicated window starts, DISTINCT duplicated substrings, and the
    // exact character coverage of the duplicated regions. One rank
    // build to 2^6 feeds all probes (a length-2^j window is duplicated
    // iff its round-j rank repeats — zero extra work per probe beyond
    // the groupBy). FULL oracle: literal substr grams per probe.
    QueryDef("q176_repetition_profile", (s, dir) => {
      val (r3, lens, _) = exsubShared(s, dir)
      graft.dedup.ExactSubstr.repetitionProfileFrom(s, r3, 3, lens,
        Seq(8L, 16L, 32L, 64L))
    },
      oracle = Some {
        val probes = Seq(8, 16, 32, 64)
        val stats = probes.map { l =>
          s"""c$l AS (
             |  SELECT CAST(COALESCE(SUM(span_end - span_start), 0) AS BIGINT)
             |    AS covered_chars
             |  FROM sp$l
             |),
             |s$l AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n_dup_starts,
             |    CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_dup_substrings
             |  FROM d$l
             |)""".stripMargin
        }
        val rows = probes.map { l =>
          s"""SELECT CAST($l AS BIGINT) AS probe_len, s$l.n_dup_starts,
             |  s$l.n_dup_substrings, c$l.covered_chars, tot.total_chars,
             |  CAST((1000000 * c$l.covered_chars) // tot.total_chars
             |    AS BIGINT) AS covered_x1e6
             |FROM s$l, c$l, tot""".stripMargin
        }
        s"""WITH t AS (
           |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
           |),
           |tot AS (
           |  SELECT CAST(SUM(length(text)) AS BIGINT) AS total_chars FROM t
           |),
           |${probes.map(dupWindowBlock).mkString(",\n")},
           |${stats.mkString(",\n")}
           |${rows.mkString("\nUNION ALL\n")}""".stripMargin
      }),

    // 20l. ExactSubstr span REMOVAL — the Lee et al. 2022 deployment
    // step (VERDICT r18 task 5): the corpus re-emitted with duplicated
    // spans CUT, keep-first-occurrence (per duplicated window content
    // the smallest (doc_id, off) keeps; every position covered by a
    // non-keeper duplicated window is removed; each doc's removed
    // ranges union into disjoint islands and the kept segments
    // re-concatenate in one codegen fold). FULL oracle: DuckDB ranks
    // the literal 12-gram occurrences by (doc_id, i), merges the
    // non-first extents into islands, and rebuilds each text with
    // string_agg over the complement segments — byte-identical
    // reconstruction.
    QueryDef("q178_remove_dup_spans", (s, dir) => {
      val (_, _, starts) = exsubShared(s, dir)
      graft.dedup.ExactSubstr.removeDupSpansFromStarts(
        Tables(s, dir).documents, "doc_id", "text", starts, 12L)
    },
      // q178: keep-first span removal — literal-gram occurrence ranking +
      // complement-segment string_agg rebuild (byte-identical texts)
      // q178 oracle: keep-first ExactSubstr span removal replayed with
      // literal 12-char grams — rank every duplicated gram's occurrences
      // by (doc_id, i), merge the NON-first extents into islands, and
      // rebuild each text by string_agg over the complement segments
      // (before-each-span + tail) — byte-identical reconstruction of the
      // engine's kept-segment fold.
      oracle = Some(s"""WITH t AS (
           |  SELECT doc_id, text, length(text) AS len FROM documents
           |  WHERE text IS NOT NULL
           |),
           |g12 AS (
           |  SELECT doc_id, i, substr(text, CAST(i AS BIGINT), 12) AS gram
           |  FROM (SELECT doc_id, text,
           |    unnest(generate_series(1, length(text) - 11)) AS i
           |    FROM t)
           |),
           |d12 AS (
           |  SELECT doc_id, i, gram FROM (
           |    SELECT doc_id, i, gram,
           |      COUNT(*) OVER (PARTITION BY gram) AS occ FROM g12)
           |  WHERE occ >= 2
           |),
           |mk AS (
           |  SELECT doc_id, i FROM (
           |    SELECT doc_id, i,
           |      row_number() OVER (PARTITION BY gram ORDER BY doc_id, i) AS rn
           |    FROM d12)
           |  WHERE rn > 1
           |),
           |isl AS (
           |  SELECT doc_id, i, SUM(newi) OVER (PARTITION BY doc_id ORDER BY i
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
           |  FROM (SELECT doc_id, i, CASE WHEN i > coalesce(lag(i) OVER
           |    (PARTITION BY doc_id ORDER BY i), -1000000000) + 12
           |    THEN 1 ELSE 0 END AS newi FROM mk)
           |),
           |sp AS (
           |  SELECT doc_id, CAST(MIN(i) AS BIGINT) AS span_start,
           |    CAST(MAX(i) + 12 AS BIGINT) AS span_end
           |  FROM isl GROUP BY doc_id, g
           |),
           |segs AS (
           |  SELECT doc_id,
           |    coalesce(lag(span_end) OVER (PARTITION BY doc_id
           |      ORDER BY span_start), CAST(1 AS BIGINT)) AS s,
           |    span_start AS e
           |  FROM sp
           |  UNION ALL
           |  SELECT sp.doc_id, MAX(span_end) AS s,
           |    CAST(MAX(t.len) + 1 AS BIGINT) AS e
           |  FROM sp JOIN t USING (doc_id) GROUP BY sp.doc_id
           |),
           |clean AS (
           |  SELECT doc_id, string_agg(substr(t.text, CAST(s AS BIGINT),
           |    CAST(e - s AS BIGINT)), '' ORDER BY s) AS text_clean
           |  FROM segs JOIN t USING (doc_id) GROUP BY doc_id
           |),
           |st AS (
           |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_cut,
           |    CAST(SUM(span_end - span_start) AS BIGINT) AS chars_cut
           |  FROM sp GROUP BY doc_id
           |)
           |SELECT t.doc_id, COALESCE(c.text_clean, t.text) AS text_clean,
           |  CAST(COALESCE(st.n_cut, 0) AS BIGINT) AS n_cut,
           |  CAST(COALESCE(st.chars_cut, 0) AS BIGINT) AS chars_cut
           |FROM t LEFT JOIN clean c ON c.doc_id = t.doc_id
           |LEFT JOIN st ON st.doc_id = t.doc_id""".stripMargin)),

    // 20e. SemDeDup semantic dedup: deterministic k-means clustering +
    // within-cluster smaller-id cosine drop — full kept/dropped
    // disposition [rows-only; Round6Spec gates planted-dup recovery and
    // byte-identical results across partitionings]
    QueryDef("q84_semdedup", (s, dir) => {
      val e = Tables(s, dir).embeddings
      // k tracks corpus size (≈1.5·√n) so the within-cell pair stage
      // (Σ|cell|² ≈ n²/k) stays sub-quadratic — the SemDeDup
      // k-grows-with-N rule. Assignment picks its plan by regime: the
      // FLAT broadcast pass is n·k cosines — the right plan while k is
      // small (its one shuffle beats the probe plumbing) but n·k =
      // n^1.5 under this k rule, so it grows 1000× across two decades;
      // past k≈256 the TWO-LEVEL quantizer (n·√k·(1+probe) cosines,
      // same single shuffle as of r7) is strictly cheaper and becomes
      // the plan — the 100× scale probe runs through it. Round7Spec
      // gates probed ≡ flat at full probe and partial-probe recovery.
      // n from the unspread scan — see tableRowCount (VERDICT r10)
      val k = math.max(32, (1.5 * math.sqrt(
        tableRowCount(s, dir, "embeddings").toDouble)).toInt)
      SemDedup.dedup(e, k = k, iters = 2, eps = 0.9,
        probe = if (k > 256) 2 else 0)
    },
      // rows-only: k-means training has no SQL replay; Round6Spec and
      // Round7Spec gate it, q84b/q84c oracle the drop policy and one step
      oracle = None),

    // 20e-b. the SemDeDup DROP POLICY in isolation, oracle-backed:
    // caller-supplied centroids (a deterministic id-mod slice of the
    // corpus — both engines select the identical set), flat argmax
    // assignment, within-cell smaller-id cosine drop. The DuckDB oracle
    // replays the double-precision cosines with list_reduce lambdas —
    // sequential left-to-right accumulation, the same IEEE op order as
    // the JVM loop, so every double (and thus every >= eps decision and
    // (cos, cid) tie-break) is bit-identical; outputs stay
    // integer/boolean. Centroid TRAINING remains spec-gated (q84).
    QueryDef("q84b_semdedup_fixed", (s, dir) => {
      val e = Tables(s, dir).embeddings
      val cents = e.where(col("vec_id") % 37 === 0)
        .select(col("vec_id").as("cid"), col("embedding").as("c_vec"))
      SemDedup.dedupWith(e, cents, eps = 0.9)
    },
      oracle = Some(s"""WITH emb AS (
           |  SELECT vec_id, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v
           |  FROM embeddings
           |),
           |cents AS (SELECT vec_id AS cid, v AS c FROM emb WHERE vec_id % 37 = 0),
           |scored AS (
           |  SELECT e.vec_id, c.cid, ${duckCosine("e.v", "c.c")} AS cos
           |  FROM emb e CROSS JOIN cents c
           |),
           |best AS (
           |  SELECT vec_id, cid AS cell FROM (
           |    SELECT vec_id, cid,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid DESC) AS rn
           |    FROM scored) WHERE rn = 1
           |),
           |dropped AS (
           |  SELECT DISTINCT bx.vec_id AS xid
           |  FROM best bx JOIN best b2 ON bx.cell = b2.cell AND b2.vec_id < bx.vec_id
           |  JOIN emb ex ON ex.vec_id = bx.vec_id
           |  JOIN emb ey ON ey.vec_id = b2.vec_id
           |  WHERE ${duckCosine("ex.v", "ey.v")} >= 0.9
           |)
           |SELECT b.vec_id, b.cell, (d.xid IS NULL) AS is_kept
           |FROM best b LEFT JOIN dropped d ON b.vec_id = d.xid""".stripMargin)),

    // 20e-c. SemDeDup TRAINING oracled — one Lloyd iteration from the
    // fixed q84b init, end-to-end: assign to the init, recompute each
    // live cell's centroid as the exact DECIMAL(27,9) per-dimension
    // mean cast to float (the engine's reproducibility contract), then
    // run the full drop disposition against the TRAINED centroids. The
    // oracle composes the q84b cosine/tie-break replay with the q65
    // exact-decimal mean replay (scale-10 half-up), so the refinement
    // arithmetic itself is oracle-checked — only the hash-sampled init
    // + multi-iteration composition stays spec-gated (q84).
    QueryDef("q84c_semdedup_train1", (s, dir) => {
      val e = Tables(s, dir).embeddings
      // k follows q84's own k ∝ √n regime (VERDICT r18 task 3): the
      // r18 fixed 256-cap made assignment linear but broke the SemDeDup
      // contract (k must track N so mean cell size stays constant,
      // else the pair stage silently grows n²/k). K = ⌈1.5·√n⌉
      // computes IDENTICALLY in both engines (count, IEEE sqrt/mul/
      // ceil are all correctly rounded doubles), the init stays the
      // pure id-arithmetic slice vec_id%37==0 ∧ vec_id<37K, and past
      // K = 256 BOTH the Lloyd step's assignment and the final
      // disposition route through the two-level coarse quantizer —
      // the q84 regime switch, now applied to refine() as well
      // (Round7Spec gates probed ≡ flat at full probe). At the oracle
      // SFs K < 256, so the oracle replays the flat argmax path
      // bit-for-bit.
      val n = tableRowCount(s, dir, "embeddings")
      val bigK = math.ceil(1.5 * math.sqrt(n.toDouble)).toLong
      val probe = if (bigK > 256) 2 else 0
      val cents0 = e.where(col("vec_id") % 37 === 0 &&
          col("vec_id") < lit(37L * bigK))
        .select(col("vec_id").as("cid"), col("embedding").as("c_vec"))
      SemDedup.dedupWith(e,
        SemDedup.refine(e, cents0, iters = 1, probe = probe),
        eps = 0.9, probe = probe)
    },
      // q84c: the q84b replay composed with ONE exact-decimal Lloyd step —
      // assignment to the fixed init, per-cell per-dim DECIMAL(27,9) means
      // (the q65 scale-10 half-up formula) cast to float, re-assignment to
      // the trained centroids, then the same drop policy
      oracle = Some {
        val mean10 = "CAST(CASE WHEN s10 >= 0 THEN (20*s10 + cnt) // (2*cnt) " +
          "ELSE -((20*(-(s10)) + cnt) // (2*cnt)) END AS HUGEINT)"
        def bestCte(name: String, cents: String) =
          s"""$name AS (
             |  SELECT vec_id, cid AS cell FROM (
             |    SELECT e.vec_id, c.cid,
             |      row_number() OVER (PARTITION BY e.vec_id
             |        ORDER BY ${duckCosine("e.v", "c.c")} DESC, c.cid DESC) AS rn
             |    FROM emb e CROSS JOIN $cents c) WHERE rn = 1
             |)""".stripMargin
        s"""WITH emb AS (
           |  SELECT vec_id, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v
           |  FROM embeddings
           |),
           |cents0 AS (SELECT vec_id AS cid, v AS c FROM emb
           |  WHERE vec_id % 37 = 0 AND vec_id < 37 * (
           |    SELECT CAST(ceil(1.5 * sqrt(COUNT(*))) AS BIGINT)
           |    FROM embeddings)),
           |${bestCte("a0", "cents0")},
           |means AS (
           |  SELECT cell,
           |    LIST(CAST(CAST(CAST(m10 AS DOUBLE) / 10000000000 AS FLOAT) AS DOUBLE) ORDER BY di) AS m_vec
           |  FROM (
           |    SELECT cell, di, $mean10 AS m10
           |    FROM (
           |      SELECT a.cell, d.di,
           |        SUM(CAST(CAST(e.v[d.di] AS DECIMAL(27,9)) * 1000000000 AS HUGEINT)) AS s10,
           |        COUNT(*) AS cnt
           |      FROM emb e JOIN a0 a ON a.vec_id = e.vec_id
           |      CROSS JOIN (SELECT CAST(range AS INTEGER) + 1 AS di FROM range(64)) d
           |      GROUP BY a.cell, d.di))
           |  GROUP BY cell
           |),
           |cents1 AS (
           |  SELECT c.cid, COALESCE(m.m_vec, c.c) AS c
           |  FROM cents0 c LEFT JOIN means m ON m.cell = c.cid
           |),
           |${bestCte("a1", "cents1")},
           |dropped AS (
           |  SELECT DISTINCT bx.vec_id AS xid
           |  FROM a1 bx JOIN a1 b2 ON bx.cell = b2.cell AND b2.vec_id < bx.vec_id
           |  JOIN emb ex ON ex.vec_id = bx.vec_id
           |  JOIN emb ey ON ey.vec_id = b2.vec_id
           |  WHERE ${duckCosine("ex.v", "ey.v")} >= 0.9
           |)
           |SELECT b.vec_id, b.cell, (d.xid IS NULL) AS is_kept
           |FROM a1 b LEFT JOIN dropped d ON b.vec_id = d.xid""".stripMargin
      }),

    // 26. rolling-hash document fingerprint [rows-only; unit-gated]
    QueryDef("q26_fingerprint", (s, dir) =>
      Tables(s, dir).documents.select(
        col("doc_id"),
        F.fingerprint(F.tokensLower(col("text"))).as("fp")),
      oracle = Some(s"""$duckHash64Tokens,
           |roll AS (
           |  WITH RECURSIVE q AS (
           |    SELECT doc_id, 0 AS ti, CAST(${u64("cbf29ce484222325")} AS HUGEINT) AS fp,
           |      CAST(max(ti) AS INTEGER) AS n
           |    FROM fnv GROUP BY doc_id
           |    UNION ALL
           |    SELECT q.doc_id, q.ti+1,
           |      CAST((q.fp * 1099511628211 + f.th) % $m64 AS HUGEINT), q.n
           |    FROM q JOIN fnv f ON f.doc_id = q.doc_id AND f.ti = q.ti + 1
           |    WHERE q.ti < q.n
           |  )
           |  SELECT doc_id, fp FROM q WHERE ti = n
           |)
           |SELECT doc_id, ${toSigned64("m")} AS fp
           |FROM (SELECT doc_id, ${splitmixSql("fp")} AS m FROM roll)""".stripMargin)),

    // 31. simhash near-dup pairs (Hamming-ball, pigeonhole-blocked)
    // [rows-only; invariants in DedupSpec]
    QueryDef("q31_simhash_pairs", (s, dir) =>
      SimHashDedup.pairs(Tables(s, dir).documents, "doc_id", "text",
        maxHamming = 3),
      // all-pairs Hamming ball over the q18-oracled codes: the Spark side's
      // 16-bit-chunk pigeonhole blocking is COMPLETE for maxHamming <= 3
      // (and its maxBucket cap cannot bind at the verify scale), so the
      // exhaustive self-join is the exact same pair set; DuckDB
      // bit_count(xor) is two's-complement popcount = JVM Long.bitCount
      oracle = Some(s"""$duckSimhash
           |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
           |FROM sim a JOIN sim b ON b.doc_id > a.doc_id
           |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin)),

    // 20i. incremental dedup probe — new-crawl docs against an EXISTING
    // corpus signature index, the production shape at 100 TB (the
    // corpus index is built ONCE and persisted; each day's crawl
    // computes only ITS signatures and probes the band buckets — no
    // index×index pairs ever form again). Fixture: even ids < 32 are
    // "the corpus", odd ids "the crawl"; output per incoming doc is the
    // best index match (max estimate, min id on ties) or a novelty
    // verdict. Same banded machinery as q17; the oracle replays the
    // full minhash in recursive SQL restricted to the probe direction.
    QueryDef("q137_dedup_probe", (s, dir) => {
      val docs = Tables(s, dir).documents.where(col("doc_id") < 32)
      def sigs(parity: Int) = probeSigs(docs, col("doc_id") % 2 === parity)
      val idx = sigs(0); val inc = sigs(1)
      val cand = MinHashDedup.probePairs(idx, inc, NumPerms,
        minJaccardPct = 5)
      bestProbeMatch(inc, cand)
    },
      oracle = Some(q137OracleSql)),

    // 20i-b. the same probe against a PERSISTED index — the actual
    // daily-pipeline shape: the corpus signature index is written ONCE
    // as bucketed parquet (exploded (id, band, bucket) rows bucketBy
    // (band, bucket) + an id-bucketed signature payload), and each
    // day's crawl probes it with ZERO index-side exchange — only the
    // small crawl side shuffles, into the index's fixed layout
    // (DedupSpec pins the exchange-free plan). Identical semantics to
    // q137 — the oracle is shared verbatim, so the persisted path must
    // reproduce the in-session path row for row.
    QueryDef("q137b_dedup_probe_persisted", (s, dir) => {
      val docs = Tables(s, dir).documents.where(col("doc_id") < 32)
      def sigs(parity: Int) = probeSigs(docs, col("doc_id") % 2 === parity)
      val tableBase = memoized(s, s"minhash_idx|$dir") {
        MinHashDedup.writeIndex(sigs(0), "graft_q137b_idx",
          numBuckets = 8)
        "graft_q137b_idx"
      }
      val inc = sigs(1)
      val cand = MinHashDedup.probePersisted(s, tableBase, inc,
        NumPerms, minJaccardPct = 5)
      bestProbeMatch(inc, cand)
    },
      // q137b reads the SAME fixture through the persisted bucketed
      // index, so the oracle is q137's verbatim — the probe result must
      // be layout-invariant
      oracle = Some(q137OracleSql)),

    // 20i-c. index LIFECYCLE: build → absorb a day → absorb another →
    // accretion audit → compact → probe. Every absorb appends one file
    // generation per bucket; the manifest gauge reads the accretion and
    // trips the compaction, whose rebuild collapses the index back to
    // one generation with IDENTICAL probe semantics — the monthly
    // maintenance loop a daily 100 TB pipeline lives by. Fixture:
    // docs < 32 reach the index in three installments (evens≡0 mod 4
    // at build, evens≡2 mod 4 then odds absorbed); docs [32, 48) are
    // the post-compaction crawl. The oracle replays the probe against
    // ALL of < 32 — any row the lifecycle lost or duplicated shifts a
    // verdict. File-count gauges stay spec-gated (DedupSpec): they
    // depend on write parallelism, verdicts don't.
    QueryDef("q149_index_lifecycle", (s, dir) => {
      val docs = Tables(s, dir).documents.where(col("doc_id") < 48)
      def sigsOf(pred: Column) = probeSigs(docs, pred)
      val id = col("doc_id")
      val tableBase = memoized(s, s"minhash_idx_lifecycle|$dir") {
        val base = "graft_q149_idx"
        MinHashDedup.writeIndex(sigsOf(id < 32 && id % 4 === 0), base,
          numBuckets = 8)
        MinHashDedup.absorbIndex(sigsOf(id < 32 && id % 4 === 2), base,
          numBuckets = 8)
        MinHashDedup.absorbIndex(sigsOf(id < 32 && id % 2 === 1), base,
          numBuckets = 8)
        // the audit → compact trigger: two absorbs accreted the layout
        val gauge = MinHashDedup.indexManifest(s, base, compactAfter = 2)
        if (!gauge.where(col("needs_compaction")).isEmpty)
          MinHashDedup.compactIndex(s, base, numBuckets = 8)
        base
      }
      val inc = sigsOf(id >= 32)
      val cand = MinHashDedup.probePersisted(s, tableBase, inc,
        NumPerms, minJaccardPct = 5)
      bestProbeMatch(inc, cand)
    },
      // q149: the lifecycle (build + 2 absorbs + compact) must leave an
      // index physically equal to "all docs < 32" — the oracle probes
      // [32,48) against that set with the full minhash replay
      // q149: the q137 replay over the LIFECYCLE fixture — after build +
      // two absorbs + compaction the physical index must hold exactly the
      // docs < 32, so the oracle probes [32, 48) against ALL of < 32 with
      // the same banded machinery; any row the lifecycle lost or
      // duplicated would shift a verdict.
      oracle = Some {
        val np = NumPerms
        s"""WITH ${minhashCtesN(48)},
           |bkI AS (SELECT doc_id, b, bucket FROM bk WHERE doc_id < 32),
           |bkN AS (SELECT doc_id, b, bucket FROM bk WHERE doc_id >= 32),
           |okb AS (
           |  SELECT b, bucket FROM bkI GROUP BY b, bucket
           |  HAVING COUNT(*) <= 256
           |),
           |cand AS (
           |  SELECT DISTINCT o.doc_id AS id_new, e.doc_id AS id_idx
           |  FROM bkN o JOIN okb USING (b, bucket) JOIN bkI e USING (b, bucket)
           |),
           |scored AS (
           |  SELECT c.id_new, c.id_idx,
           |    CAST((len(list_filter(generate_series(1, $np),
           |      q -> a.sig[q] = e.sig[q])) * 100) // $np AS BIGINT) AS est
           |  FROM cand c JOIN sigl a ON a.doc_id = c.id_new
           |    JOIN sigl e ON e.doc_id = c.id_idx
           |),
           |pos AS (SELECT * FROM scored WHERE est >= 5),
           |best AS (
           |  SELECT id_new, max(est) AS best_jaccard_pct FROM pos
           |  GROUP BY id_new
           |),
           |bestid AS (
           |  SELECT s.id_new, bst.best_jaccard_pct,
           |    min(s.id_idx) AS best_match
           |  FROM pos s JOIN best bst ON s.id_new = bst.id_new
           |    AND s.est = bst.best_jaccard_pct
           |  GROUP BY s.id_new, bst.best_jaccard_pct
           |)
           |SELECT n.doc_id, bi.best_match, bi.best_jaccard_pct,
           |  bi.best_match IS NULL AS is_novel
           |FROM (SELECT doc_id FROM d32 WHERE doc_id >= 32) n
           |LEFT JOIN bestid bi ON bi.id_new = n.doc_id""".stripMargin
      }),

    // 26u. Temperature-based multilingual mixing (the p^alpha sampling
    // convention of XLM-R/mBERT/Gopher, alpha = 0.7): up-weights tail
    // languages relative to their raw share without drowning the head —
    // the standard fix for "English is 90% of the crawl". The smoothed
    // mass quantizes to DECIMAL(18,9) BEFORE normalization (absorbing
    // pow() ulp differences, the q58/q114 discipline), and the final
    // per-million weight is integer arithmetic over the quantized masses
    // — engine-exact. Two one-row broadcast totals; the only shuffle is
    // the per-language count's partial-agg merge.
    // 26v. Duplicated-content page signal (RefinedWeb §3.3): fraction of
    // a page's characters living in paragraphs shared by >=2 distinct
    // docs, with a 30% keep threshold — the page-level SCORING use of the
    // q79 evidence (q79 rewrites text; this gates pages). Census shuffles
    // (xxhash64, length), never text; one doc-keyed agg ends it.
    QueryDef("q118_dup_paragraphs", (s, dir) =>
      LineDedup.dupParagraphStats(Tables(s, dir).documents,
        "doc_id", "text"),
      // q118: the oracle replays the census on the paragraph STRING (the
      // Spark side shuffles (xxhash64, length) instead of text — identical
      // up to the documented 2^-64 collision risk shared with q16/q79)
      oracle = Some("""WITH p AS (
          |  SELECT doc_id, unnest(string_split_regex(text, '\n{2,}')) AS para
          |  FROM documents
          |), dup AS (
          |  SELECT para FROM (
          |    SELECT para, COUNT(DISTINCT doc_id) AS nd FROM p GROUP BY 1
          |  ) WHERE nd >= 2
          |), g AS (
          |  SELECT p.doc_id,
          |    CAST(COUNT(*) AS BIGINT) AS n_paras,
          |    CAST(SUM(CASE WHEN dup.para IS NOT NULL THEN 1 ELSE 0 END)
          |      AS BIGINT) AS n_dup_paras,
          |    CAST(SUM(len(p.para)) AS BIGINT) AS total_chars,
          |    CAST(SUM(CASE WHEN dup.para IS NOT NULL THEN len(p.para)
          |      ELSE 0 END) AS BIGINT) AS dup_chars
          |  FROM p LEFT JOIN dup USING (para)
          |  GROUP BY p.doc_id
          |), f AS (
          |  SELECT *,
          |    CASE WHEN total_chars > 0
          |      THEN CAST(floor(dup_chars * 10000 / (total_chars * 1.0))
          |        AS BIGINT)
          |      ELSE 0 END AS dup_bp
          |  FROM g
          |)
          |SELECT *, dup_bp <= 3000 AS keep FROM f""".stripMargin)),

    // 37. near-dup clustering: connected components over the q19-verified
    // pair list (hash-min propagation; oracle is a DuckDB recursive CTE)
    QueryDef("q37_dedup_clusters", (s, dir) => {
      val docs = Tables(s, dir).documents
      DedupClusters.connectedComponents(docs, "doc_id", verifiedPairs(s, dir))
    },
      oracle = Some(s"""WITH RECURSIVE t AS (
           |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents
           |), s AS (
           |  SELECT doc_id, list_distinct(list_transform(
           |    generate_series(1, greatest(len(toks)-1, 1)),
           |    i -> CASE WHEN i+1 <= len(toks) THEN toks[i] || ' ' || toks[i+1]
           |         ELSE toks[i] END)) AS sh FROM t
           |), p AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM s a JOIN s b ON a.doc_id < b.doc_id
           |  WHERE floor(len(list_intersect(a.sh, b.sh)) * 100.0 /
           |        greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1)) >= 50
           |), e AS (
           |  SELECT id_a AS src, id_b AS dst FROM p
           |  UNION SELECT id_b, id_a FROM p
           |), reach AS (
           |  SELECT doc_id AS id, doc_id AS comp FROM documents
           |  UNION
           |  SELECT e.src, reach.comp FROM e JOIN reach ON e.dst = reach.id
           |)
           |SELECT id, MIN(comp) AS component FROM reach GROUP BY id""".stripMargin)),

    // 38. winnowing fingerprint sketch (MOSS) — full oracle as of r7
    // (DuckDB replays the gram fold + per-window unsigned min; the
    // shared-run guarantee itself stays HashingSpec-tested)
    QueryDef("q38_winnow", (s, dir) =>
      Tables(s, dir).documents.select(
        col("doc_id"),
        size(F.winnow(F.tokensLower(col("text")), 4, 6)).as("n_fingerprints")),
      // winnowing fingerprint COUNT: gram hashes are the q26 FNV fold
      // (h·P + token-hash64, splitmix-finalized) over each k=4 window,
      // replayed with a list_reduce over the doc's ordered token hashes;
      // the selected-value set is { unsigned-min of each w=6 gram window }
      // (the rightmost-on-ties rule only picks WHICH index, never a
      // different value, so it is invisible to the distinct count), and
      // HUGEINT grams in [0, 2^64) make MIN the unsigned comparison the
      // JVM uses; m <= w degenerates to the global minimum -> exactly 1
      oracle = Some(s"""$duckHash64Tokens,
           |tl AS (
           |  SELECT doc_id, list(th ORDER BY ti) AS thl FROM fnv GROUP BY doc_id
           |),
           |gr AS (
           |  SELECT doc_id, i,
           |    list_reduce(
           |      list_prepend(CAST(${u64("cbf29ce484222325")} AS HUGEINT),
           |        thl[i:least(i+3, len(thl))]),
           |      (a, b) -> CAST((a * 1099511628211 + b) % $m64 AS HUGEINT)) AS fold,
           |    greatest(len(thl) - 3, 1) AS m
           |  FROM (SELECT doc_id, thl,
           |          unnest(generate_series(1, greatest(len(thl) - 3, 1))) AS i
           |        FROM tl)
           |),
           |wm AS (
           |  SELECT doc_id, m,
           |    CASE WHEN i <= m - 5 THEN
           |      MIN(g) OVER (PARTITION BY doc_id ORDER BY i
           |                   ROWS BETWEEN CURRENT ROW AND 5 FOLLOWING)
           |    END AS wmin
           |  FROM (SELECT doc_id, i, m, ${splitmixSql("fold")} AS g FROM gr)
           |)
           |SELECT doc_id,
           |  CAST(CASE WHEN MAX(m) <= 6 THEN 1
           |            ELSE COUNT(DISTINCT wmin) END AS INTEGER) AS n_fingerprints
           |FROM wm GROUP BY doc_id""".stripMargin)),

    // 56. the full dedup funnel in one result: raw → exact-dedup
    // survivors → near-dup-cluster survivors
    QueryDef("q56_dedup_funnel", (s, dir) => {
      val docs = Tables(s, dir).documents
      val raw = docs.agg(count(lit(1)).as("n_docs"))
        .withColumn("stage", lit("raw"))
      val exact = ExactDedup.groups(docs, "doc_id", "text")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("stage", lit("exact_dedup"))
      val near = DedupClusters.connectedComponents(docs, "doc_id",
        verifiedPairs(s, dir))
        .agg(countDistinct(col("component")).as("n_docs"))
        .withColumn("stage", lit("near_dedup"))
      raw.unionByName(exact).unionByName(near).select("stage", "n_docs")
    },
      oracle = Some(s"""WITH RECURSIVE t AS (
           |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents
           |), s AS (
           |  SELECT doc_id, list_distinct(list_transform(
           |    generate_series(1, greatest(len(toks)-1, 1)),
           |    i -> CASE WHEN i+1 <= len(toks) THEN toks[i] || ' ' || toks[i+1]
           |         ELSE toks[i] END)) AS sh FROM t
           |), p AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM s a JOIN s b ON a.doc_id < b.doc_id
           |  WHERE floor(len(list_intersect(a.sh, b.sh)) * 100.0 /
           |        greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1)) >= 50
           |), e AS (
           |  SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p
           |), reach AS (
           |  SELECT doc_id AS id, doc_id AS comp FROM documents
           |  UNION
           |  SELECT e.src, reach.comp FROM e JOIN reach ON e.dst = reach.id
           |), comp AS (
           |  SELECT id, MIN(comp) AS component FROM reach GROUP BY id
           |)
           |SELECT 'raw' AS stage, COUNT(*) AS n_docs FROM documents
           |UNION ALL
           |SELECT 'exact_dedup', COUNT(DISTINCT text) FROM documents
           |UNION ALL
           |SELECT 'near_dedup', COUNT(DISTINCT component) FROM comp""".stripMargin)),

    // 20e. quality-aware dedup keeper selection: per near-dup cluster,
    // keep the HIGHEST-quality member (not min-id) — the production
    // "which duplicate survives" policy; reuses the shared verified pairs
    QueryDef("q69_best_keeper", (s, dir) => {
      val docs = Tables(s, dir).documents
      val comps = DedupClusters.connectedComponents(docs, "doc_id",
        verifiedPairs(s, dir))
      val q = docs.select(col("doc_id"),
        TextStats.qualityScore(col("text")).as("quality"))
      comps.join(q, col("id") === col("doc_id"))
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"),
          // max quality, then min id: one exact integer composite
          max_by(col("id"), col("quality") * lit(1000000000000L) - col("id"))
            .as("keeper_id"),
          max(col("quality")).as("keeper_quality"))
    },
      oracle = Some(s"""WITH RECURSIVE t AS (
           |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents
           |), s AS (
           |  SELECT doc_id, list_distinct(list_transform(
           |    generate_series(1, greatest(len(toks)-1, 1)),
           |    i -> CASE WHEN i+1 <= len(toks) THEN toks[i] || ' ' || toks[i+1]
           |         ELSE toks[i] END)) AS sh FROM t
           |), p AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM s a JOIN s b ON a.doc_id < b.doc_id
           |  WHERE floor(len(list_intersect(a.sh, b.sh)) * 100.0 /
           |        greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1)) >= 50
           |), e AS (
           |  SELECT id_a AS src, id_b AS dst FROM p
           |  UNION SELECT id_b, id_a FROM p
           |), reach AS (
           |  SELECT doc_id AS id, doc_id AS comp FROM documents
           |  UNION
           |  SELECT e.src, reach.comp FROM e JOIN reach ON e.dst = reach.id
           |), comp AS (
           |  SELECT id, MIN(comp) AS component FROM reach GROUP BY id
           |), q AS (
           |  SELECT doc_id,
           |    least(100, CAST(floor(500.0 * n_stop / n_tokens) AS BIGINT)) AS quality
           |  FROM (
           |    SELECT doc_id,
           |      CAST((length(p2) - length(replace(p2, ' the ', ''))) / 5
           |         + (length(p2) - length(replace(p2, ' a ', ''))) / 3
           |         + (length(p2) - length(replace(p2, ' and ', ''))) / 5 AS BIGINT) AS n_stop,
           |      CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
           |    FROM (SELECT doc_id, text, ' ' || text || ' ' AS p2 FROM documents))
           |)
           |SELECT component, COUNT(*) AS n_members,
           |  arg_max(id, quality * 1000000000000 - id) AS keeper_id,
           |  MAX(quality) AS keeper_quality
           |FROM comp JOIN q ON comp.id = q.doc_id
           |GROUP BY component""".stripMargin)),

    // 45. benchmark decontamination: per held-out doc, the fraction of its
    // 5-gram shingles found anywhere in the corpus (bench fixture = 40
    // truncated docs, so overlap is partial and nontrivial)
    QueryDef("q45_contamination", (s, dir) => {
      val docs = Tables(s, dir).documents
      val bench = docs.where(col("doc_id") < 40)
        .select(col("doc_id"), substring(col("text"), 1, 150).as("text"))
      Contamination.overlap(docs, "text", bench, "doc_id", "text",
        shingleK = 5)
    },
      oracle = Some {
        // word-5-shingles, mirroring F.shingles(k=5) incl. the short-doc rule
        def duckSh(src: String) =
          s"""SELECT ${if (src == "bench") "doc_id," else ""}
             |  list_distinct(list_transform(
             |    generate_series(1, greatest(len(toks)-4, 1)),
             |    i -> list_aggregate(toks[i:least(i+4, len(toks))], 'string_agg', ' '))) AS sh
             |FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
             |      FROM $src)""".stripMargin
        s"""WITH bench AS (
           |  SELECT doc_id, substr(text, 1, 150) AS text FROM documents WHERE doc_id < 40
           |), cs AS (
           |  SELECT DISTINCT unnest(sh) AS h FROM (${duckSh("documents")})
           |), bs AS (
           |  SELECT doc_id AS bench_id, unnest(sh) AS h FROM (${duckSh("bench")})
           |)
           |SELECT bench_id, COUNT(*) AS n_shingles,
           |  COUNT(cs.h) AS n_hit,
           |  CAST(floor(COUNT(cs.h) * 100.0 / COUNT(*)) AS BIGINT) AS contaminated_pct
           |FROM bs LEFT JOIN cs USING (h)
           |GROUP BY bench_id""".stripMargin
      }),

    // 16b. corpus-level LINE dedup (boilerplate strip): lines injected
    // deterministically — a universal footer, a doc_id%5 social line, and a
    // per-doc unique id line — then every line in >= 3 distinct docs is
    // removed corpus-wide and the docs reassembled
    QueryDef("q79_line_dedup", (s, dir) => {
      val dirty = Tables(s, dir).documents.select(col("doc_id"),
        concat(col("text"), lit("\nSubscribe to our newsletter"),
          when(col("doc_id") % 5 === 0, lit("\nFollow us on example social"))
            .otherwise(lit("")),
          lit("\nid: "), col("doc_id").cast("string")).as("dirty"))
      LineDedup.stripBoilerplate(dirty, "doc_id", "dirty", minDocs = 3L)
    },
      oracle = Some("""WITH d AS (
          |  SELECT doc_id, text || chr(10) || 'Subscribe to our newsletter'
          |    || CASE WHEN doc_id % 5 = 0
          |         THEN chr(10) || 'Follow us on example social' ELSE '' END
          |    || chr(10) || 'id: ' || CAST(doc_id AS VARCHAR) AS dirty
          |  FROM documents
          |), a AS (
          |  SELECT doc_id, string_split(dirty, chr(10)) AS arr FROM d
          |), i AS (
          |  SELECT doc_id, arr, unnest(generate_series(1, len(arr))) AS pos
          |  FROM a
          |), l AS (
          |  SELECT doc_id, pos, arr[pos] AS line FROM i
          |), b AS (
          |  SELECT line FROM (
          |    SELECT line, COUNT(DISTINCT doc_id) AS nd FROM l GROUP BY 1
          |  ) WHERE nd >= 3
          |)
          |SELECT l.doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
          |  CAST(SUM(CASE WHEN b.line IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_removed,
          |  COALESCE(string_agg(CASE WHEN b.line IS NULL THEN l.line END,
          |    chr(10) ORDER BY l.pos), '') AS kept_text
          |FROM l LEFT JOIN b ON l.line = b.line
          |GROUP BY 1""".stripMargin)),

    // 16d. ExactSubstr-style longest duplicated SPAN (Lee et al. 2022):
    // the longest consecutive run of corpus-duplicated 5-grams per doc
    // (= longest shared substring, k-gram-quantized) + the paper's
    // drop-at->=minSpanTokens verdict; run structure distinguishes one
    // verbatim block from q68's scattered boilerplate grams
    QueryDef("q93_dup_spans", (s, dir) =>
      DupSpans.maxDupSpan(Tables(s, dir).documents, "doc_id", "text",
        k = 5, minSpanTokens = 15L),
      // longest duplicated span: positions of corpus-duplicated 5-grams,
      // gaps-and-islands (pos - row_number) run grouping, max run + k-1;
      // docs with no duplicated gram -> span 0 via the LEFT JOIN
      oracle = Some("""WITH t AS (
          |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
          |  FROM documents WHERE text IS NOT NULL
          |), g0 AS (
          |  SELECT doc_id, list_transform(
          |    generate_series(1, greatest(len(toks)-4, 1)),
          |    i -> list_aggregate(toks[i:least(i+4, len(toks))], 'string_agg', ' ')) AS gl
          |  FROM t
          |), g AS (
          |  SELECT doc_id, generate_subscripts(gl, 1) AS pos, unnest(gl) AS gram
          |  FROM g0
          |), tot AS (
          |  SELECT gram, COUNT(*) AS occ FROM g GROUP BY 1
          |), d AS (
          |  SELECT g.doc_id, g.pos FROM g JOIN tot USING (gram) WHERE occ >= 2
          |), r AS (
          |  SELECT doc_id,
          |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
          |  FROM d
          |), runs AS (
          |  SELECT doc_id, COUNT(*) AS rl FROM r GROUP BY doc_id, grp
          |), mx AS (
          |  SELECT doc_id, MAX(rl) AS mrl FROM runs GROUP BY doc_id
          |)
          |SELECT t.doc_id,
          |  CAST(COALESCE(mx.mrl + 4, 0) AS BIGINT) AS max_dup_span,
          |  COALESCE(mx.mrl + 4, 0) >= 15 AS is_dropped
          |FROM t LEFT JOIN mx USING (doc_id)""".stripMargin))
  )
}
