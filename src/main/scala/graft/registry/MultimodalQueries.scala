package graft
package registry

import graft.dedup._
import graft.etl.Store
import graft.functions.F
import graft.multimodal.BinaryPipeline
import org.apache.spark.sql.functions._

/** Multimodal queries over binary payloads: image, audio, clip and PDF
  * decoding, perceptual hashes and their near-dup clusters.
  */
private[graft] object MultimodalQueries {
  import Shared._

  /** q148/q150 shared replay: the PHash fixture's hash bits
    * regenerated from pure doc_id arithmetic (the jitter variant is
    * provably hash-invariant, so the replay skips it), packed to signed
    * 64-bit via HUGEINT shifts — the CTE chain ends at `hashes`
    * (doc_id, dhash, ahash with NULLs at the corrupt plant).
    */
  private lazy val phashCtes: String =
    s"""d AS (
       |  SELECT doc_id, doc_id // 4 AS m, doc_id % 4 AS v FROM documents
       |),
       |g AS (
       |  SELECT CAST(a.range AS BIGINT) AS x, CAST(b.range AS BIGINT) AS y
       |  FROM range(9) a, range(8) b
       |),
       |bits AS (
       |  SELECT doc_id, x, y,
       |    CASE WHEN v = 2 AND x = m % 7 AND y = m % 8
       |      THEN 1 - pb ELSE pb END AS b
       |  FROM (
       |    SELECT d.doc_id, d.m, d.v, g.x, g.y,
       |      CAST(hash(73*d.m + CASE WHEN d.v = 3 THEN 997907 ELSE 0 END
       |        + 9*g.y + g.x) % 2 AS BIGINT) AS pb
       |    FROM d, g)
       |),
       |dh AS (
       |  SELECT l.doc_id,
       |    SUM(CASE WHEN r.b = 1 AND l.b = 0
       |      THEN CAST(1 AS HUGEINT) << CAST(l.y*8 + l.x AS INTEGER)
       |      ELSE CAST(0 AS HUGEINT) END) AS dhu
       |  FROM bits l JOIN bits r
       |    ON r.doc_id = l.doc_id AND r.y = l.y AND r.x = l.x + 1
       |  WHERE l.x < 8
       |  GROUP BY 1
       |),
       |cells AS (
       |  SELECT l.doc_id, l.x AS cx, l.y AS cy,
       |    CASE WHEN l.x < 7 THEN 40 + 160*l.b
       |         ELSE 40 + 80*(l.b + r.b) END AS cell
       |  FROM bits l JOIN bits r
       |    ON r.doc_id = l.doc_id AND r.y = l.y AND r.x = 8
       |  WHERE l.x < 8
       |),
       |am AS (
       |  SELECT doc_id, CAST(SUM(cell) AS BIGINT) // 64 AS mean
       |  FROM cells GROUP BY 1
       |),
       |ah AS (
       |  SELECT c.doc_id,
       |    SUM(CASE WHEN c.cell > am.mean
       |      THEN CAST(1 AS HUGEINT) << CAST(c.cy*8 + c.cx AS INTEGER)
       |      ELSE CAST(0 AS HUGEINT) END) AS ahu
       |  FROM cells c JOIN am USING (doc_id)
       |  GROUP BY 1
       |),
       |hashes AS (
       |  SELECT d.doc_id,
       |    CASE WHEN d.doc_id % 8 = 1 THEN NULL
       |      ELSE ${toSigned64("dh.dhu")} END AS dhash,
       |    CASE WHEN d.doc_id % 8 = 1 THEN NULL
       |      ELSE ${toSigned64("ah.ahu")} END AS ahash
       |  FROM d JOIN dh USING (doc_id) JOIN ah USING (doc_id)
       |)""".stripMargin

  /** q154's fingerprint replay (levels → bits → packed hash), shared
    * with the q156 cluster oracle.
    */
  private lazy val afpCtes: String =
    s"""d AS (
       |  SELECT doc_id, doc_id // 4 AS m, doc_id % 4 AS v FROM documents
       |),
       |lv AS (
       |  SELECT d.doc_id, CAST(k.range AS BIGINT) AS k,
       |    CAST(hash(131*d.m
       |        + CASE WHEN d.v = 3 THEN 424243 ELSE 0 END
       |        + k.range) % 64 AS BIGINT)
       |      + CASE WHEN d.v = 2 AND k.range = d.m % 65
       |        THEN 17 ELSE 0 END AS lvl
       |  FROM d, range(65) k
       |),
       |fp AS (
       |  SELECT l.doc_id,
       |    SUM(CASE WHEN r.lvl > l.lvl
       |      THEN CAST(1 AS HUGEINT) << CAST(l.k AS INTEGER)
       |      ELSE CAST(0 AS HUGEINT) END) AS fpu
       |  FROM lv l JOIN lv r ON r.doc_id = l.doc_id AND r.k = l.k + 1
       |  WHERE l.k < 64
       |  GROUP BY 1
       |),
       |hashes AS (
       |  SELECT d.doc_id,
       |    CASE WHEN d.doc_id % 8 = 1 THEN NULL
       |      ELSE ${toSigned64("fp.fpu")} END AS afp
       |  FROM d JOIN fp USING (doc_id)
       |)""".stripMargin

  val all: Seq[QueryDef] = Seq(
    // 27. multimodal binary plumbing with stubbed decode
    QueryDef("q27_multimodal_meta", (s, dir) => {
      val blobs = BinaryPipeline.withBlob(Tables(s, dir).documents, "doc_id", "text")
      BinaryPipeline.extractMeta(s, blobs).toDF()
        .select("doc_id", "n_bytes", "fake_width")
    },
      oracle = Some("""SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
          | CAST(octet_length(encode(text)) % 640 AS BIGINT) AS fake_width
          |FROM documents""".stripMargin)),

    // 35. REAL frame sampling — the last multimodal stub retired: the
    // engine genuinely walks the APNG animation it assembled (acTL /
    // fcTL / fdAT chunk walk, per-chunk CRC-32, one zlib stream per
    // frame, unfilter) and keeps every 2nd frame up to 4, emitting
    // decoded RGB bytes. The oracle replays the frame-count arithmetic
    // (2–4 frames per clip, 9×8×3 bytes each); corrupt clips yield 0
    // frames, observably. mapPartitions batch shape, bounded explosion.
    QueryDef("q35_frame_sample", (s, dir) => {
      val docs = Tables(s, dir).documents
      val blobs = docs.select(col("doc_id"),
        F.clipFixture(col("doc_id")).as("blob"))
      val f = BinaryPipeline.extractFrames(s, blobs, every = 2, maxFrames = 4)
        .toDF()
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_frames"),
          sum(length(col("frame_bytes"))).as("total_frame_bytes"))
      docs.select("doc_id").join(f, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_frames"), lit(0L)).as("n_frames"),
          coalesce(col("total_frame_bytes"), lit(0L))
            .as("total_frame_bytes"))
    },
      // q35: real APNG frame walk — every-2nd-of-nf sampling and the
      // 9x8x3-byte decoded frame size replay from doc_id arithmetic
      oracle = Some("""SELECT doc_id,
          | CASE WHEN doc_id % 8 = 1 THEN 0
          |   ELSE least(4, (2 + (doc_id // 4) % 3 + 1) // 2) END AS n_frames,
          | CASE WHEN doc_id % 8 = 1 THEN 0
          |   ELSE least(4, (2 + (doc_id // 4) % 3 + 1) // 2) * 216 END
          |   AS total_frame_bytes
          |FROM documents""".stripMargin)),

    // 27c. REAL image-container header decode (PNG IHDR / JPEG SOF marker
    // walk — MediaHeader via StaticInvoke, whole-stage codegen, no UDF):
    // the first non-stub slice of the multimodal decode path; corrupt /
    // truncated blobs produce NULLs, never a throw
    QueryDef("q83_image_headers", (s, dir) => {
      val blobs = imageBlobFixture(Tables(s, dir).documents)
      blobs.select(col("doc_id"),
        F.imageFormat(col("blob")).as("format"),
        F.imageWidth(col("blob")).cast("long").as("width"),
        F.imageHeight(col("blob")).cast("long").as("height"))
    },
      // q83: the fixture dims are pure doc_id arithmetic — the oracle
      // recomputes them directly; Spark must recover the same numbers by
      // actually parsing the headers it assembled
      oracle = Some("""SELECT doc_id,
          | CASE WHEN doc_id % 5 = 0 THEN 'png'
          |      WHEN doc_id % 5 = 1 THEN 'jpeg'
          |      WHEN doc_id % 5 = 3 THEN 'gif'
          |      WHEN doc_id % 5 = 4 THEN 'bmp' END AS format,
          | CASE WHEN doc_id % 5 = 0 THEN 1 + doc_id % 640
          |      WHEN doc_id % 5 = 1 THEN 1 + doc_id % 1000
          |      WHEN doc_id % 5 = 3 THEN 1 + doc_id % 320
          |      WHEN doc_id % 5 = 4 THEN 1 + doc_id % 1024 END AS width,
          | CASE WHEN doc_id % 5 = 0 THEN 1 + doc_id % 480
          |      WHEN doc_id % 5 = 1 THEN 1 + doc_id % 800
          |      WHEN doc_id % 5 = 3 THEN 1 + doc_id % 200
          |      WHEN doc_id % 5 = 4 THEN 1 + doc_id % 768 END AS height
          |FROM documents""".stripMargin)),

    // 27 (completed). REAL pixel decode — BMP stride/orientation handling
    // plus the full PNG path (chunk walk, per-chunk CRC-32, multi-IDAT
    // zlib inflate, all five scanline filters) — over fixture images whose
    // pixel values are pure doc_id arithmetic: the oracle recomputes every
    // statistic WITHOUT decoding, while Spark must genuinely invert the
    // container encoding it assembled (PixelCodec). This retires the last
    // stub in the multimodal path.
    QueryDef("q95_pixel_stats", (s, dir) => {
      val blobs = Tables(s, dir).documents
        .select(col("doc_id"), F.pixelFixture(col("doc_id")).as("blob"))
      val px = F.pixelStats(col("blob"))
      blobs.select(col("doc_id"),
        F.imageFormat(col("blob")).as("format"),
        element_at(px, 1).as("n_pixels"),
        element_at(px, 2).as("sum_r"),
        element_at(px, 3).as("sum_g"),
        element_at(px, 4).as("sum_b"),
        element_at(px, 5).as("n_nonzero"))
    },
      // q95: pixel (x,y) channel c of doc d is (7d + 31y + 13x + 5c) mod 256
      // with dims (1 + d%9) × (1 + d%7) — the oracle recomputes the stats
      // from that formula alone; Spark must decode the actual containers.
      // The uncorrelated 9×7 grid + WHERE keeps the lateral-free form exact.
      oracle = Some("""WITH d AS (
          |  SELECT doc_id, 1 + doc_id % 9 AS w, 1 + doc_id % 7 AS h
          |  FROM documents
          |), px AS (
          |  SELECT d.doc_id,
          |    (d.doc_id*7 + sy.y*31 + sx.x*13) % 256 AS r,
          |    (d.doc_id*7 + sy.y*31 + sx.x*13 + 5) % 256 AS g,
          |    (d.doc_id*7 + sy.y*31 + sx.x*13 + 10) % 256 AS b
          |  FROM d
          |  CROSS JOIN generate_series(0, 8) AS sx(x)
          |  CROSS JOIN generate_series(0, 6) AS sy(y)
          |  WHERE sx.x < d.w AND sy.y < d.h
          |), agg AS (
          |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pixels,
          |    CAST(SUM(r) AS BIGINT) AS sum_r, CAST(SUM(g) AS BIGINT) AS sum_g,
          |    CAST(SUM(b) AS BIGINT) AS sum_b,
          |    CAST(COUNT(*) FILTER (WHERE r + g + b > 0) AS BIGINT) AS n_nonzero
          |  FROM px GROUP BY doc_id
          |)
          |SELECT d.doc_id,
          |  CASE WHEN d.doc_id % 3 = 0 THEN 'bmp'
          |       WHEN d.doc_id % 3 = 1 THEN 'png' END AS format,
          |  CASE WHEN d.doc_id % 3 < 2 THEN a.n_pixels END AS n_pixels,
          |  CASE WHEN d.doc_id % 3 < 2 THEN a.sum_r END AS sum_r,
          |  CASE WHEN d.doc_id % 3 < 2 THEN a.sum_g END AS sum_g,
          |  CASE WHEN d.doc_id % 3 < 2 THEN a.sum_b END AS sum_b,
          |  CASE WHEN d.doc_id % 3 < 2 THEN a.n_nonzero END AS n_nonzero
          |FROM d JOIN agg a USING (doc_id)""".stripMargin)),

    // 27g. image perceptual-hash near-dup — the image leg of dedup (a
    // multimodal corpus dedups images before anything else): dHash +
    // aHash over REALLY-decoded pixels (PHash via StaticInvoke riding
    // the q95 BMP/PNG decoder), near-dup pairs via the SAME 16-bit
    // pigeonhole Hamming blocking as q31, folded into per-doc rows
    // (hashes, dup count, best partner). Fixture: 4-doc motif groups —
    // a base, a +3-brightness twin (hash-identical BY CONSTRUCTION,
    // the invariance perceptual hashing exists for), a one-pixel flip
    // (Hamming ≤ 2), an independently-salted far image — with corrupt
    // bytes at doc%8=1 (NULL hashes, observable as missing twins in
    // the counts). Pattern bits are murmur64 parity == DuckDB hash()
    // parity, so the FULL oracle regenerates every hash bit, the
    // Hamming pairs, and the counts while Spark genuinely decodes the
    // containers it assembled. One map-side decode+hash pass, the
    // narrow (chunk, id, hash) blocking shuffle, bounded buckets.
    QueryDef("q148_image_phash", (s, dir) => {
      val hp = F.perceptualHashes(F.patternImageFixture(col("doc_id")))
      // decode+hash ONCE: the pair blocking and the final report both
      // read this frame, and at 100 TB of images the decode is the
      // dominant cost while the hash rows are 24 bytes/doc — so the
      // narrow frame materializes (a snapshot) instead of running
      // the decode twice
      val hashed = Store.snapshot(Tables(s, dir).documents
        .select(col("doc_id"), hp.as("_hp"))
        .select(col("doc_id"),
          element_at(col("_hp"), 1).as("dhash"),
          element_at(col("_hp"), 2).as("ahash")))
      val pairs = SimHashDedup.hammingPairs(hashed, "doc_id", "dhash",
        maxHamming = 3)
      val sided = pairs.select(explode(array(
          struct(col("id_a").as("doc_id"), col("id_b").as("partner")),
          struct(col("id_b").as("doc_id"), col("id_a").as("partner"))))
          .as("s"))
        .select(col("s.doc_id"), col("s.partner"))
      val agg = sided.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_dups"), min(col("partner")).as("min_partner"))
      hashed.join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("dhash"), col("ahash"),
          coalesce(col("n_dups"), lit(0L)).as("n_dups"),
          col("min_partner"))
    },
      // q148: every perceptual-hash bit regenerated from doc_id
      // arithmetic (pattern bit = hash(73m + salt + 9y + x) % 2 — DuckDB
      // hash == murmur64; dHash bit = right AND NOT left; aHash cells
      // 40+160b with the double-width edge cell and the floor-mean), the
      // Hamming-ball pairs via bit_count(xor), counts and best partner —
      // while Spark genuinely decodes the BMP/PNG containers
      // q148 oracle: [[phashCtes]] + the Hamming-pair/count fold.
      oracle = Some(s"""WITH $phashCtes,
           |${hammingPairCtes("dhash")},
           |sided AS (
           |  SELECT id_a AS doc_id, id_b AS partner FROM pr
           |  UNION ALL SELECT id_b, id_a FROM pr
           |),
           |agg AS (
           |  SELECT doc_id, COUNT(*) AS n_dups, MIN(partner) AS min_partner
           |  FROM sided GROUP BY 1
           |)
           |SELECT h.doc_id, h.dhash, h.ahash,
           |  CAST(COALESCE(a.n_dups, 0) AS BIGINT) AS n_dups, a.min_partner
           |FROM hashes h LEFT JOIN agg a USING (doc_id)""".stripMargin)),

    // 27i. audio CONTENT near-dup — the q148 economics for sound:
    // decode the PCM data chunk the engine assembled, hash the energy
    // contour (65 boxes, bit = exact cross-multiplied mean comparison —
    // gain-invariant BY CONSTRUCTION), pair via the SAME pigeonhole
    // Hamming blocking as text SimHash and image pHash. Fixture: 4-doc
    // motif groups — a base contour, a ×2 uniform-GAIN twin
    // (fingerprint-identical), a one-box +17 bump (Hamming ≤ 2), an
    // independently salted far contour — with corrupt bytes at doc%8=1
    // (NULL, observable as missing twins). Levels are murmur64 & 63 ==
    // DuckDB hash() parity, so the FULL oracle regenerates every
    // fingerprint bit, the Hamming pairs, and the counts while Spark
    // genuinely walks the RIFF containers and decodes 16-bit frames.
    // One map-side decode+hash pass, the narrow blocking shuffle.
    QueryDef("q154_audio_fingerprint", (s, dir) => {
      val hashed = Store.snapshot(Tables(s, dir).documents
        .select(col("doc_id"),
          F.audioFingerprint(F.fpWavFixture(col("doc_id"))).as("afp")))
      val pairs = SimHashDedup.hammingPairs(hashed, "doc_id", "afp",
        maxHamming = 3)
      val sided = pairs.select(explode(array(
          struct(col("id_a").as("doc_id"), col("id_b").as("partner")),
          struct(col("id_b").as("doc_id"), col("id_a").as("partner"))))
          .as("s"))
        .select(col("s.doc_id"), col("s.partner"))
      val agg = sided.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_dups"),
          min(col("partner")).as("min_partner"))
      hashed.join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("afp"),
          coalesce(col("n_dups"), lit(0L)).as("n_dups"),
          col("min_partner"))
    },
      // q154: every audio fingerprint bit regenerated from doc_id
      // arithmetic (levels = hash % 64) while Spark walks real RIFF
      // containers; Hamming pairs + counts like q148
      // q154 oracle: the audio fingerprint replayed from doc_id arithmetic
      // — levels hash(131m + salt + k) % 64 (+17 at the v2 bump box), bit
      // k = lvl(k+1) > lvl(k) (the engine's exact cross-multiplied mean
      // comparison reduces to level ordering because every box holds equal
      // frame counts of the constant amplitude (37·lvl + 5)·gain — and the
      // ×2 gain twin cancels BY CONSTRUCTION), HUGEINT bit packing, then
      // the engine-faithful Hamming blocking ([[hammingPairCtes]]) and the
      // q148 count fold.
      oracle = Some(s"""WITH $afpCtes,
           |${hammingPairCtes("afp")},
           |sided AS (
           |  SELECT id_a AS doc_id, id_b AS partner FROM pr
           |  UNION ALL SELECT id_b, id_a FROM pr
           |),
           |agg AS (
           |  SELECT doc_id, COUNT(*) AS n_dups, MIN(partner) AS min_partner
           |  FROM sided GROUP BY 1
           |)
           |SELECT h.doc_id, h.afp,
           |  CAST(COALESCE(a.n_dups, 0) AS BIGINT) AS n_dups, a.min_partner
           |FROM hashes h LEFT JOIN agg a USING (doc_id)""".stripMargin)),

    // 27i-b. audio near-dup CLUSTERS — the keep-one-per-cluster key
    // over q154's pairs (the q37/q150 policy applied to sound): energy-
    // contour Hamming edges feed the shared hash-min label propagation;
    // corrupt clips are honest singletons. FULL oracle: the q154
    // fingerprint replay + the engine-faithful blocking + recursive
    // reachability (the q150 mold).
    QueryDef("q156_audio_clusters", (s, dir) => {
      val docs = Tables(s, dir).documents
      val hashed = docs.select(col("doc_id"),
        F.audioFingerprint(F.fpWavFixture(col("doc_id"))).as("afp"))
      val pairs = SimHashDedup.hammingPairs(hashed, "doc_id", "afp",
        maxHamming = 3)
      DedupClusters.connectedComponents(docs.select("doc_id"), "doc_id",
        pairs)
    },
      // q156: the q154 replay + blocking + recursive reachability
      // q156 oracle: [[afpCtes]] + the engine-faithful blocking + the
      // q150-style recursive reachability fold (component = min id
      // reachable through the Hamming ball; corrupt docs are singletons).
      oracle = Some(s"""WITH RECURSIVE $afpCtes,
           |${hammingPairCtes("afp")},
           |e AS (
           |  SELECT id_a AS src, id_b AS dst FROM pr
           |  UNION SELECT id_b, id_a FROM pr
           |),
           |reach AS (
           |  SELECT doc_id AS id, doc_id AS comp FROM documents
           |  UNION
           |  SELECT e.src, reach.comp FROM e JOIN reach ON e.dst = reach.id
           |)
           |SELECT id, MIN(comp) AS component FROM reach GROUP BY id""".stripMargin)),

    // 27i-c. audio activity segmentation (the VAD primitive: silence
    // trimming, speech-segment chunking, duration accounting) — decode
    // the PCM frames the engine assembled, box the time axis with the
    // fingerprint's 65-box rule, call a box ACTIVE when Σamp ≥
    // 600·frames (exact cross-multiplication, no mean rounding), and
    // fold the run structure: active-box count, segment count, longest
    // silence run, first active box. ABSOLUTE-threshold semantics — a
    // gain twin legitimately changes verdicts (the spec pins this
    // distinction vs the gain-invariant q154 fingerprint). FULL
    // oracle: box amplitudes replay as channels·gain·(37·lvl+5) from
    // the q154 level plant, runs via lag + gaps-and-islands. Corrupt
    // clips are honest NULL rows. One map-side decode pass, zero
    // shuffles beyond the scan.
    QueryDef("q163_audio_vad", (s, dir) => {
      val docs = Tables(s, dir).documents
      docs.select(col("doc_id"),
          F.vadStats(F.fpWavFixture(col("doc_id")), 600L).as("v"))
        .select(col("doc_id"),
          element_at(col("v"), 1).as("n_frames"),
          element_at(col("v"), 2).as("n_active"),
          element_at(col("v"), 3).as("n_segments"),
          element_at(col("v"), 4).as("longest_silence"),
          nullif(element_at(col("v"), 5), lit(-1L)).as("first_active"))
    },
      // q163 oracle: box activity replayed from the q154 level plant —
      // per-frame amplitude is channels·gain·(37·lvl + 5) (the fixture
      // writes the same sample to every channel and the engine mixes by
      // summing), so a box is active iff mult·(37·lvl + 5) ≥ 600; runs
      // fold via lag (segment starts) and gaps-and-islands (longest
      // silence). Corrupt docs (doc%8==1) are NULL rows.
      oracle = Some(s"""WITH d AS (
           |  SELECT doc_id, doc_id // 4 AS m, doc_id % 4 AS v FROM documents
           |),
           |lv AS (
           |  SELECT d.doc_id, CAST(k.range AS BIGINT) AS k,
           |    CAST(hash(131*d.m
           |        + CASE WHEN d.v = 3 THEN 424243 ELSE 0 END
           |        + k.range) % 64 AS BIGINT)
           |      + CASE WHEN d.v = 2 AND k.range = d.m % 65
           |        THEN 17 ELSE 0 END AS lvl,
           |    (1 + d.m % 2) * (CASE WHEN d.v = 1 THEN 2 ELSE 1 END) AS mult,
           |    2 + d.m % 3 AS spw
           |  FROM d, range(65) k
           |  WHERE d.doc_id % 8 <> 1
           |),
           |fl AS (
           |  SELECT doc_id, k, spw,
           |    (mult * (37*lvl + 5) >= 600) AS active
           |  FROM lv
           |),
           |base AS (
           |  SELECT doc_id,
           |    CAST(65 * MAX(spw) AS BIGINT) AS n_frames,
           |    CAST(SUM(CASE WHEN active THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_active,
           |    CAST(SUM(CASE WHEN active AND (prev IS NULL OR NOT prev)
           |      THEN 1 ELSE 0 END) AS BIGINT) AS n_segments,
           |    MIN(CASE WHEN active THEN k END) AS first_active
           |  FROM (SELECT *, lag(active) OVER (PARTITION BY doc_id
           |    ORDER BY k) AS prev FROM fl) x
           |  GROUP BY doc_id
           |),
           |sil AS (
           |  SELECT doc_id, CAST(MAX(islsz) AS BIGINT) AS longest_silence
           |  FROM (
           |    SELECT doc_id, COUNT(*) AS islsz FROM (
           |      SELECT doc_id, k,
           |        k - row_number() OVER (PARTITION BY doc_id ORDER BY k)
           |          AS isl
           |      FROM fl WHERE NOT active) i
           |    GROUP BY doc_id, isl) g
           |  GROUP BY doc_id
           |)
           |SELECT d.doc_id, b.n_frames, b.n_active, b.n_segments,
           |  CASE WHEN b.n_frames IS NOT NULL
           |    THEN COALESCE(s.longest_silence, CAST(0 AS BIGINT)) END
           |    AS longest_silence,
           |  b.first_active
           |FROM d LEFT JOIN base b USING (doc_id)
           |LEFT JOIN sil s USING (doc_id)""".stripMargin)),

    // 27j. clip near-dup — frames → q148 hashes → near-dup CLIP
    // detection: decode every APNG frame (real walk), dHash each with
    // the still-image construction, block candidate clips on the
    // frame-0 hash (the shared pigeonhole machinery — complete, since
    // a clip pair needs EVERY frame within the ball), then verify
    // equal frame counts and max aligned-frame Hamming ≤ 3. Output per
    // doc: frame count, the xor-fold clip signature (pins every frame
    // hash), dup count, best partner; corrupt clips are honest NULLs.
    // FULL oracle: every frame hash bit replays from doc_id arithmetic
    // (murmur64 parity == DuckDB hash()) while Spark genuinely decodes
    // the animation containers it assembled. Scale shape: one decode
    // pass into a ~40-byte/doc hash frame (a snapshot), the
    // narrow blocking shuffle, frame-aligned verify joins on candidate
    // pairs only.
    QueryDef("q155_clip_neardup", (s, dir) => {
      val docs = Tables(s, dir).documents
      val fh = Store.snapshot(docs.select(col("doc_id"),
          F.clipFrameHashes(F.clipFixture(col("doc_id"))).as("fhs")))
      val flat = fh.where(col("fhs").isNotNull)
        .select(col("doc_id"), size(col("fhs")).cast("long").as("nf"),
          posexplode(col("fhs")).as(Seq("frame_no", "dhash")))
      val f0 = flat.where(col("frame_no") === 0)
        .select(col("doc_id"), col("dhash"))
      val cand = SimHashDedup.hammingPairs(f0, "doc_id", "dhash",
        maxHamming = 3)
      val fa = flat.select(col("doc_id").as("id_a"), col("nf").as("nf_a"),
        col("frame_no"), col("dhash").as("h_a"))
      val fb = flat.select(col("doc_id").as("id_b"), col("nf").as("nf_b"),
        col("frame_no"), col("dhash").as("h_b"))
      val pairs = cand.join(fa, Seq("id_a")).join(fb, Seq("id_b", "frame_no"))
        .where(col("nf_a") === col("nf_b"))
        .groupBy(col("id_a"), col("id_b"), col("nf_a"))
        .agg(max(expr("bit_count(h_a ^ h_b)")).as("max_ham"),
          count(lit(1)).as("n_aligned"))
        .where(col("max_ham") <= 3 && col("n_aligned") === col("nf_a"))
        .select("id_a", "id_b")
      val sided = pairs.select(explode(array(
          struct(col("id_a").as("doc_id"), col("id_b").as("partner")),
          struct(col("id_b").as("doc_id"), col("id_a").as("partner"))))
          .as("s"))
        .select(col("s.doc_id"), col("s.partner"))
      val agg = sided.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_dups"),
          min(col("partner")).as("min_partner"))
      fh.select(col("doc_id"),
          when(col("fhs").isNotNull, size(col("fhs")).cast("long"))
            .as("n_frames"),
          when(col("fhs").isNotNull,
            aggregate(col("fhs"), lit(0L), (a, x) => a.bitwiseXOR(x)))
            .as("clip_sig"))
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_frames"), col("clip_sig"),
          coalesce(col("n_dups"), lit(0L)).as("n_dups"),
          col("min_partner"))
    },
      // q155: every frame hash replayed from arithmetic while Spark
      // decodes real APNG animations; all-frames-aligned pairing rule
      // q155 oracle: every frame's dHash bits regenerated from the clip
      // fixture arithmetic (pattern bit = hash(521m + salt + 73fr +
      // 9y + x) parity, one flipped pixel in the v2 frame — the jitter
      // twin is provably hash-invariant so the replay skips it), packed
      // per (doc, frame), xor-folded to the clip signature, and paired by
      // the engine's exact rule: equal frame counts and EVERY aligned
      // frame within Hamming 3 (frame-0 blocking is complete for that
      // conjunction). Corrupt clips (doc%8==1) are NULL rows.
      oracle = Some(s"""WITH d AS (
           |  SELECT doc_id, doc_id // 4 AS m, doc_id % 4 AS v,
           |    2 + (doc_id // 4) % 3 AS nf
           |  FROM documents
           |),
           |frames AS (
           |  SELECT d.*, CAST(f.range AS BIGINT) AS fr
           |  FROM d, range(4) f WHERE f.range < d.nf
           |),
           |g AS (
           |  SELECT CAST(a.range AS BIGINT) AS x, CAST(b.range AS BIGINT) AS y
           |  FROM range(9) a, range(8) b
           |),
           |bits AS (
           |  SELECT doc_id, fr, x, y,
           |    CASE WHEN v = 2 AND fr = m % nf AND x = m % 7 AND y = m % 8
           |      THEN 1 - pb ELSE pb END AS b
           |  FROM (
           |    SELECT t.doc_id, t.m, t.v, t.nf, t.fr, g.x, g.y,
           |      CAST(hash(521*t.m + CASE WHEN t.v = 3 THEN 777781 ELSE 0 END
           |        + 73*t.fr + 9*g.y + g.x) % 2 AS BIGINT) AS pb
           |    FROM frames t, g)
           |),
           |dh AS (
           |  SELECT l.doc_id, l.fr,
           |    SUM(CASE WHEN r.b = 1 AND l.b = 0
           |      THEN CAST(1 AS HUGEINT) << CAST(l.y*8 + l.x AS INTEGER)
           |      ELSE CAST(0 AS HUGEINT) END) AS dhu
           |  FROM bits l JOIN bits r
           |    ON r.doc_id = l.doc_id AND r.fr = l.fr AND r.y = l.y
           |      AND r.x = l.x + 1
           |  WHERE l.x < 8
           |  GROUP BY 1, 2
           |),
           |fh AS (
           |  SELECT doc_id, fr, ${toSigned64("dhu")} AS dhash
           |  FROM dh WHERE doc_id % 8 <> 1
           |),
           |nfv AS (
           |  SELECT doc_id, COUNT(*) AS nf, bit_xor(dhash) AS clip_sig
           |  FROM fh GROUP BY 1
           |),
           |hashes AS (SELECT doc_id, dhash FROM fh WHERE fr = 0),
           |${hammingPairCtes("dhash", out = "pr0")},
           |pr AS (
           |  SELECT p.id_a, p.id_b
           |  FROM pr0 p
           |  JOIN nfv a ON a.doc_id = p.id_a
           |  JOIN nfv b ON b.doc_id = p.id_b AND a.nf = b.nf
           |  WHERE NOT EXISTS (
           |    SELECT 1 FROM fh x JOIN fh y
           |      ON y.doc_id = p.id_b AND y.fr = x.fr
           |    WHERE x.doc_id = p.id_a
           |      AND bit_count(xor(x.dhash, y.dhash)) > 3)
           |),
           |sided AS (
           |  SELECT id_a AS doc_id, id_b AS partner FROM pr
           |  UNION ALL SELECT id_b, id_a FROM pr
           |),
           |agg AS (
           |  SELECT doc_id, COUNT(*) AS n_dups, MIN(partner) AS min_partner
           |  FROM sided GROUP BY 1
           |)
           |SELECT d.doc_id, CAST(n.nf AS BIGINT) AS n_frames, n.clip_sig,
           |  CAST(COALESCE(a.n_dups, 0) AS BIGINT) AS n_dups, a.min_partner
           |FROM d LEFT JOIN nfv n USING (doc_id)
           |LEFT JOIN agg a USING (doc_id)""".stripMargin)),

    // 27k. scene-cut detection — per-clip temporal segmentation, the
    // standard first pass of any video pipeline (keyframe selection,
    // shot-level dedup, caption alignment all hang off it): decode
    // every APNG frame (the q155 walk), dHash each, and call a CUT
    // wherever adjacent-frame Hamming exceeds 8 (within-shot jitter is
    // ≤ 4 by the fixture's construction; cut transitions land on
    // independent patterns). Output per doc: frame count, cut count,
    // shot count, longest shot, first cut position; corrupt clips are
    // honest NULL rows. FULL oracle: every frame hash bit replays from
    // doc_id arithmetic (murmur64 parity/masks == DuckDB hash()
    // unsigned mods) and DuckDB applies the same lag/threshold rule.
    // Scale shape: one decode pass into a bounded hash frame, ONE
    // doc_id shuffle shared by the lag window and the aggregate —
    // per-doc state is frames-bounded, never corpus-bounded.
    QueryDef("q158_scene_cuts", (s, dir) => {
      val docs = Tables(s, dir).documents
      val fh = docs.select(col("doc_id"),
        F.clipFrameHashes(F.sceneClipFixture(col("doc_id"))).as("fhs"))
      val flat = fh.where(col("fhs").isNotNull)
        .select(col("doc_id"), size(col("fhs")).cast("long").as("nf"),
          posexplode(col("fhs")).as(Seq("frame_no", "dhash")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("frame_no")
      val marked = flat
        .withColumn("prev", lag(col("dhash"), 1).over(w))
        .withColumn("is_cut",
          when(col("prev").isNotNull &&
            expr("bit_count(dhash ^ prev)") > 8, 1L).otherwise(0L))
        .withColumn("shot", sum(col("is_cut")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)))
      val shots = marked.groupBy(col("doc_id"), col("shot"))
        .agg(count(lit(1)).as("shot_len"))
      val agg = marked.groupBy(col("doc_id"))
        .agg(max(col("nf")).as("n_frames"),
          sum(col("is_cut")).as("n_cuts"),
          min(when(col("is_cut") === 1L, col("frame_no").cast("long")))
            .as("first_cut"))
        .join(shots.groupBy(col("doc_id"))
          .agg(max(col("shot_len")).as("longest_shot")), Seq("doc_id"))
      docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_frames"), col("n_cuts"),
          (col("n_cuts") + 1L).as("n_shots"), col("longest_shot"),
          col("first_cut"))
    },
      // q158 oracle: the scene-clip fixture replayed bit-for-bit — planted
      // cut indicators (hash % 4), the running shot number, per-shot
      // pattern bits (hash % 2) with the per-frame jitter flip at
      // (jh % 8, jh // 8 % 8), dHash packing, then the ENGINE's detection
      // rule (lag + Hamming > 8 + running shot sum) applied in SQL.
      // Corrupt clips (doc%8==1) are NULL rows.
      oracle = Some(s"""WITH d AS (
           |  SELECT doc_id, 6 + doc_id % 5 AS nf FROM documents
           |),
           |frames AS (
           |  SELECT d.doc_id, CAST(f.range AS BIGINT) AS fr
           |  FROM d, range(10) f WHERE f.range < d.nf
           |),
           |shotno AS (
           |  SELECT doc_id, fr,
           |    SUM(CASE WHEN fr >= 1 AND hash(500009*doc_id + fr) % 4 = 0
           |      THEN 1 ELSE 0 END)
           |      OVER (PARTITION BY doc_id ORDER BY fr) AS shot
           |  FROM frames
           |),
           |g AS (
           |  SELECT CAST(a.range AS BIGINT) AS x, CAST(b.range AS BIGINT) AS y
           |  FROM range(9) a, range(8) b
           |),
           |bits AS (
           |  SELECT doc_id, fr, x, y,
           |    CASE WHEN x = CAST(jh % 8 AS BIGINT)
           |        AND y = CAST((jh // 8) % 8 AS BIGINT)
           |      THEN 1 - pb ELSE pb END AS b
           |  FROM (
           |    SELECT s.doc_id, s.fr, g.x, g.y,
           |      CAST(hash(1000003*s.doc_id + 4001*s.shot + 9*g.y + g.x) % 2
           |        AS BIGINT) AS pb,
           |      hash(9000011*s.doc_id + s.fr) AS jh
           |    FROM shotno s, g)
           |),
           |dh AS (
           |  SELECT l.doc_id, l.fr,
           |    SUM(CASE WHEN r.b = 1 AND l.b = 0
           |      THEN CAST(1 AS HUGEINT) << CAST(l.y*8 + l.x AS INTEGER)
           |      ELSE CAST(0 AS HUGEINT) END) AS dhu
           |  FROM bits l JOIN bits r
           |    ON r.doc_id = l.doc_id AND r.fr = l.fr AND r.y = l.y
           |      AND r.x = l.x + 1
           |  WHERE l.x < 8
           |  GROUP BY 1, 2
           |),
           |fh AS (
           |  SELECT doc_id, fr, ${toSigned64("dhu")} AS dhash
           |  FROM dh WHERE doc_id % 8 <> 1
           |),
           |mk AS (
           |  SELECT doc_id, fr,
           |    CASE WHEN prev IS NOT NULL AND bit_count(xor(dhash, prev)) > 8
           |      THEN 1 ELSE 0 END AS is_cut
           |  FROM (
           |    SELECT doc_id, fr, dhash,
           |      lag(dhash) OVER (PARTITION BY doc_id ORDER BY fr) AS prev
           |    FROM fh)
           |),
           |sh AS (
           |  SELECT doc_id, fr, is_cut,
           |    SUM(is_cut) OVER (PARTITION BY doc_id ORDER BY fr) AS shot
           |  FROM mk
           |),
           |slen AS (
           |  SELECT doc_id, shot, COUNT(*) AS shot_len FROM sh GROUP BY 1, 2
           |),
           |agg AS (
           |  SELECT s.doc_id, COUNT(*) AS n_frames,
           |    CAST(SUM(s.is_cut) AS BIGINT) AS n_cuts,
           |    MIN(CASE WHEN s.is_cut = 1 THEN s.fr END) AS first_cut
           |  FROM sh s GROUP BY 1
           |),
           |ls AS (
           |  SELECT doc_id, MAX(shot_len) AS longest_shot FROM slen GROUP BY 1
           |)
           |SELECT d.doc_id, a.n_frames, a.n_cuts,
           |  CAST(a.n_cuts + 1 AS BIGINT) AS n_shots, ls.longest_shot,
           |  a.first_cut
           |FROM d LEFT JOIN agg a USING (doc_id)
           |LEFT JOIN ls USING (doc_id)""".stripMargin)),

    // 27h. image near-dup CLUSTERS — the keep-one-per-cluster key over
    // q148's pairs (the q37 policy applied to images): dHash Hamming
    // edges feed the shared hash-min label propagation; undecodable
    // images are honest singletons. The full oracle replays the hash
    // bits and folds reachability in a recursive CTE (the q37 mold).
    // Same pigeonhole shuffle as q148 + the per-round narrow CC joins.
    QueryDef("q150_image_clusters", (s, dir) => {
      val docs = Tables(s, dir).documents
      val hashed = docs.select(col("doc_id"),
        element_at(F.perceptualHashes(
          F.patternImageFixture(col("doc_id"))), 1).as("dhash"))
      val pairs = SimHashDedup.hammingPairs(hashed, "doc_id", "dhash",
        maxHamming = 3)
      DedupClusters.connectedComponents(docs.select("doc_id"), "doc_id",
        pairs)
    },
      // q150: the replayed hash bits + recursive reachability — component
      // = min id reachable through the Hamming ball
      // q150 oracle: [[phashCtes]] + the q37-style recursive reachability
      // fold over the Hamming-ball edges — component = min reachable id;
      // undecodable docs (NULL hash) are singletons by construction.
      oracle = Some(s"""WITH RECURSIVE $phashCtes,
           |${hammingPairCtes("dhash")},
           |e AS (
           |  SELECT id_a AS src, id_b AS dst FROM pr
           |  UNION SELECT id_b, id_a FROM pr
           |),
           |reach AS (
           |  SELECT doc_id AS id, doc_id AS comp FROM documents
           |  UNION
           |  SELECT e.src, reach.comp FROM e JOIN reach ON e.dst = reach.id
           |)
           |SELECT id, MIN(comp) AS component FROM reach GROUP BY id""".stripMargin)),

    // 27f. PDF Info-dictionary metadata (ISO 32000-1 §14.3.3 subset) —
    // the provenance fields a corpus keeps beside q123's extracted
    // text: title (as a document header), author, creation date (the
    // recency-keeper input, q69). The planted title exercises the
    // §7.3.4.2 escape decoder (\( \) round-trip); no-Info and not-a-PDF
    // variants answer NULLs. Map-side kernel, zero shuffles.
    QueryDef("q141_pdf_meta", (s, dir) => {
      val id = col("doc_id")
      val m = F.pdfInfo(F.pdfInfoFixture(id))
      Tables(s, dir).documents.select(id,
        element_at(m, 1).as("pdf_title"),
        element_at(m, 2).as("pdf_author"),
        to_date(substring(element_at(m, 3), 3, 8), "yyyyMMdd")
          .as("created_date"),
        element_at(m, 1).isNotNull.as("has_info"))
    },
      // q141: the oracle replays the Info plant — full metadata id%4=0
      // (title through the escape decoder), title-only id%4=1, no Info
      // id%4=2, not a PDF id%4=3; Spark genuinely walks trailer → /Info
      // ref → object → literal strings
      oracle = Some("""SELECT doc_id,
          |  CASE CAST(doc_id % 4 AS INTEGER)
          |    WHEN 0 THEN 'T (' || doc_id || ') esc'
          |    WHEN 1 THEN 'T ' || doc_id END AS pdf_title,
          |  CASE WHEN doc_id % 4 = 0 THEN 'Au ' || doc_id END
          |    AS pdf_author,
          |  CASE WHEN doc_id % 4 = 0 THEN make_date(2024,
          |    CAST(1 + doc_id % 12 AS INTEGER),
          |    CAST(1 + doc_id % 28 AS INTEGER)) END AS created_date,
          |  doc_id % 4 IN (0, 1) AS has_info
          |FROM documents""".stripMargin)),

    // 27e. WAV/RIFF audio header decode — the audio leg of the
    // multimodal metadata path: a genuine chunk walk (fmt fields, data
    // size, odd-chunk pad alignment) over containers the fixture
    // assembles from doc_id arithmetic; torn / non-RIFF / non-WAVE
    // variants answer NULL, never a throw. Map-side kernel, zero
    // shuffles (the q83/q95 pattern, audio instead of pixels).
    QueryDef("q129_wav_headers", (s, dir) => {
      val id = col("doc_id")
      val m = F.wavMeta(F.wavFixture(id))
      Tables(s, dir).documents.select(id,
        element_at(m, 1).as("audio_format"),
        element_at(m, 2).as("channels"),
        element_at(m, 3).as("sample_rate"),
        element_at(m, 4).as("bits_per_sample"),
        element_at(m, 5).as("n_frames"),
        element_at(m, 6).as("duration_ms"))
    },
      // q129: the fixture fields are pure doc_id arithmetic — the oracle
      // recomputes them; Spark must recover the same numbers by walking
      // the RIFF container it assembled (incl. the odd-LIST pad byte)
      oracle = Some("""WITH v AS (
          |  SELECT doc_id, doc_id % 11 AS vv,
          |    doc_id % 11 NOT IN (7, 9, 10) AS ok
          |  FROM documents
          |)
          |SELECT doc_id,
          |  CASE WHEN ok THEN CAST(CASE WHEN vv = 8 THEN 3 ELSE 1 END
          |    AS BIGINT) END AS audio_format,
          |  CASE WHEN ok THEN CAST(1 + doc_id % 2 AS BIGINT) END
          |    AS channels,
          |  CASE WHEN ok THEN CAST(8000 + (doc_id % 5) * 2000 AS BIGINT)
          |    END AS sample_rate,
          |  CASE WHEN ok THEN CAST(CASE WHEN vv = 8 THEN 32
          |    WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS BIGINT) END
          |    AS bits_per_sample,
          |  CASE WHEN ok THEN CAST(1 + doc_id % 50 AS BIGINT) END
          |    AS n_frames,
          |  CASE WHEN ok THEN CAST((1 + doc_id % 50) * 1000
          |    // (8000 + (doc_id % 5) * 2000) AS BIGINT) END
          |    AS duration_ms
          |FROM v""".stripMargin)),

    // 26aa. REAL bounded-subset PDF text extraction (ISO 32000-1:
    // object/stream walk honoring direct /Length, FlateDecode via JDK
    // zlib, BT/ET + Tj/TJ/quote operators, the full literal-string
    // escape set) over planted per-doc PDFs whose expected extraction is
    // pure doc_id arithmetic — the q95/q111 fixture doctrine: the oracle
    // composes the expected text while Spark genuinely walks the
    // container it assembled, inflates, and replays string escapes.
    // Out-of-subset payloads (encrypted, torn, textless) answer with an
    // attributable reason, never a throw. Map-side kernel end-to-end:
    // zero shuffles.
    QueryDef("q123_pdf_text", (s, dir) => {
      val d = Tables(s, dir).documents
        .select(col("doc_id"),
          F.pdfFixture(col("doc_id"), col("text")).as("blob"))
      val ex = F.pdfExtract(col("blob"))
      d.select(col("doc_id"),
        element_at(ex, 1).as("pdf_text"),
        element_at(ex, 2).as("pdf_reason"))
    },
      // q123: the oracle composes each variant's expected extraction from
      // doc_id arithmetic + the doc text (the planted string rides the
      // literal-escape round trip, so extraction returns it verbatim);
      // Spark must genuinely walk the objects, inflate the FlateDecode
      // stream, and replay the text operators of the container it built
      oracle = Some("""SELECT doc_id,
          |  CASE CAST(doc_id % 5 AS INTEGER)
          |    WHEN 0 THEN 'Doc ' || doc_id || ' uncompressed'
          |      || chr(10) || text
          |    WHEN 1 THEN 'Doc ' || doc_id || ' flate' || chr(10) || text
          |  END AS pdf_text,
          |  CASE CAST(doc_id % 5 AS INTEGER)
          |    WHEN 0 THEN 'ok' WHEN 1 THEN 'ok' WHEN 2 THEN 'encrypted'
          |    WHEN 3 THEN 'torn' ELSE 'no_text' END AS pdf_reason
          |FROM documents""".stripMargin))
  )
}
