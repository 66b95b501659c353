package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** graft's column-function surface. Everything here lowers to either
  * built-in (codegen'd) Spark functions or a [[Kernel]] binding of a
  * static JVM method — never a Scala/Python UDF — so plans keep
  * whole-stage codegen and null handling stays in Catalyst. The
  * bindings the `graft_*` SQL functions also expose are the capitalised
  * values here ([[Hash64]], [[ToRoman]], …), read by both surfaces.
  */
object F {

  // ---- tokenization -------------------------------------------------------

  /** Whitespace tokens of a trimmed string. */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** Lower-cased whitespace tokens. */
  def tokensLower(c: Column): Column = split(trim(lower(c)), "\\s+")

  /** Word k-shingles: overlapping k-grams of the token array, re-joined with
    * single spaces. Shorter-than-k documents yield one (short) shingle.
    *
    * `tokenArr` is bound to a lambda variable through a one-element outer
    * transform before the index loop touches it. This is load-bearing: a
    * non-lambda-bound expression INSIDE a higher-order-function lambda
    * re-evaluates its whole subtree per iteration, and every caller here
    * passes the regex tokenization — the naive
    * `transform(sequence(…), i -> slice(tokenArr, …))` re-ran the split
    * once per shingle index, O(tokens²) per document (measured 7× on the
    * bigram builder's identical shape at the 100× probe; a lambda
    * variable is a plain bound-value read).
    */
  def shingles(tokenArr: Column, k: Int): Column =
    flatten(transform(array(tokenArr), ts =>
      transform(
        sequence(lit(0), greatest(size(ts) - k, lit(0))),
        i => concat_ws(" ", slice(ts, i + 1, lit(k))))))

  // ---- hashing / sketches -------------------------------------------------

  /** 64-bit content hash of a string (FNV-1a + splitmix64). */
  val Hash64: Kernel = Kernel(classOf[Hashing.type], "hash64", LongType)
  def hash64(c: Column, seed: Long = 0L): Column = Hash64(c, lit(seed))

  /** MinHash signature (array<long> of length numPerms) of a shingle array. */
  def minhashSig(shingleArr: Column, numPerms: Int = 128): Column =
    Kernel(classOf[Hashing.type], "minhashSig",
      ArrayType(LongType, containsNull = false))(shingleArr, lit(numPerms))

  /** LSH band bucket ids (array<long> of length bands) of a minhash signature. */
  def bandBuckets(sig: Column, bands: Int = 16): Column =
    Kernel(classOf[Hashing.type], "bandBuckets",
      ArrayType(LongType, containsNull = false))(sig, lit(bands))

  /** DSIR hashed unigram+bigram feature buckets (array<int>, each in
    * [0, buckets)) of a token array — [[Hashing.dsirBuckets]]; `buckets`
    * must be a power of two.
    */
  def dsirBuckets(tokenArr: Column, buckets: Int): Column =
    Kernel(classOf[Hashing.type], "dsirBuckets",
      ArrayType(IntegerType, containsNull = false))(tokenArr, lit(buckets))

  /** Token k-gram hashes (array<long>) by per-token hash folding —
    * [[Hashing.kgramHashes]]; replayable externally from a per-token
    * hash relation with integer arithmetic alone.
    */
  def kgramHashes(tokenArr: Column, k: Int): Column =
    Kernel(classOf[Hashing.type], "kgramHashes",
      ArrayType(LongType, containsNull = false))(tokenArr, lit(k))

  /** 64-bit SimHash of a token array. */
  val SimHash64: Kernel = Kernel(classOf[Hashing.type], "simhash64", LongType)
  def simhash64(tokenArr: Column): Column = SimHash64(tokenArr)

  /** Order-sensitive polynomial rolling-hash fingerprint of a token array. */
  val Fingerprint: Kernel =
    Kernel(classOf[Hashing.type], "fingerprint", LongType)
  def fingerprint(tokenArr: Column): Column = Fingerprint(tokenArr)

  /** Winnowing fingerprint set (distinct window-min k-gram hashes) of a
    * token array — the partial-overlap sketch (MOSS).
    */
  def winnow(tokenArr: Column, k: Int, w: Int): Column =
    Kernel(classOf[Hashing.type], "winnow",
      ArrayType(LongType, containsNull = false))(tokenArr, lit(k), lit(w))

  /** Hamming distance between two 64-bit hashes. */
  val Hamming: Kernel = Kernel(classOf[Hashing.type], "hamming", IntegerType)
  def hamming(a: Column, b: Column): Column = Hamming(a, b)

  /** DEFLATE-compressed byte length of a string (raw deflate, fixed
    * level 6) — the CCNet/RefinedWeb compression-ratio quality signal's
    * kernel ([[Hashing.deflatedLen]]).
    */
  def deflatedLen(c: Column): Column =
    Kernel(classOf[Hashing.type], "deflatedLen", IntegerType)(c)

  /** Xorshift-multiply integer finalizer (DuckDB-hash-compatible). */
  def murmur64(c: Column): Column =
    Kernel(classOf[Hashing.type], "murmur64", LongType)(c)

  /** Morton/Z-order key of two long columns (low 32 bits each) — sort by
    * this to cluster for range filters on either dimension.
    */
  def zorder2(a: Column, b: Column): Column =
    Kernel(classOf[Hashing.type], "interleave2", LongType)(a, b)

  /** Bloom membership of a long key against a driver-built filter — the
    * filter's word array inlines as a LITERAL, so the probe runs inside
    * whole-stage codegen on the scan side (a runtime filter, not a join).
    */
  val BloomContains: Kernel =
    Kernel(classOf[Hashing.type], "bloomContains", BooleanType)
  def bloomContains(words: Array[Long], numHashes: Int, key: Column): Column =
    BloomContains(typedLit(words), lit(numHashes), key)

  // ---- vector math --------------------------------------------------------

  /** Cosine similarity of two array<float> columns (double accumulation). */
  val Cosine: Kernel = Kernel(classOf[Hashing.type], "cosineF", DoubleType)
  def cosine(a: Column, b: Column): Column = Cosine(a, b)

  /** Dot product of two array<float> columns (double accumulation). */
  val Dot: Kernel = Kernel(classOf[Hashing.type], "dotF", DoubleType)
  def dot(a: Column, b: Column): Column = Dot(a, b)

  /** JL sign projection of a milli-quantized array<long> into `dims`
    * exact integer components ([[Hashing.jlProject]] — signs are hash
    * parity, nothing stored).
    */
  def jlProject(milli: Column, dims: Int): Column =
    Kernel(classOf[Hashing.type], "jlProject",
      ArrayType(LongType, containsNull = false))(milli, lit(dims))

  /** Squared L2 distance of two array<float> columns (double accumulation). */
  val L2sq: Kernel = Kernel(classOf[Hashing.type], "l2sqF", DoubleType)
  def l2sq(a: Column, b: Column): Column = L2sq(a, b)

  /** Banded random-hyperplane LSH codes (array<long>, one sign-bit code per
    * table) of an array<float> column. AND within a table, OR across tables.
    */
  def hyperplaneCodes(vec: Column, planes: Int, tables: Int): Column =
    Kernel(classOf[Hashing.type], "hyperplaneCodes",
      ArrayType(LongType, containsNull = false))(vec, lit(planes), lit(tables))

  // ---- roman numerals -----------------------------------------------------

  /** Int → Roman numeral (null outside 1..3999). Reference:
    * aggregates_python_helpers.py:72-78 builds the I..XXX validation set.
    */
  val ToRoman: Kernel = Kernel(classOf[RomanCodec.type], "toRoman",
    StringType, returnNullable = true)
  def toRoman(c: Column): Column = ToRoman(c)

  /** Roman numeral → Int (0 for invalid). Reference de-Romanize pass:
    * aggregates_python_helpers.py:517-533.
    */
  val FromRoman: Kernel =
    Kernel(classOf[RomanCodec.type], "fromRoman", IntegerType)
  def fromRoman(c: Column): Column = FromRoman(c)

  // ---- media headers ------------------------------------------------------

  /** Container format of an image binary column: 'png' / 'jpeg' / null
    * (real header parse — graft.multimodal.MediaHeader, RFC 2083 /
    * ITU T.81 — via StaticInvoke, inside whole-stage codegen).
    */
  val ImageFormat: Kernel = Kernel(classOf[graft.multimodal.MediaHeader.type],
    "format", StringType, returnNullable = true)
  def imageFormat(blob: Column): Column = ImageFormat(blob)

  /** Pixel width / height from a PNG IHDR / JPEG SOF header; -1 when
    * the bytes are corrupt, truncated, or not a recognized image
    * container ([[imageWidth]] / [[imageHeight]] turn -1 into NULL).
    */
  val ImageWidth: Kernel =
    Kernel(classOf[graft.multimodal.MediaHeader.type], "width", IntegerType)
  val ImageHeight: Kernel =
    Kernel(classOf[graft.multimodal.MediaHeader.type], "height", IntegerType)

  /** Pixel width from a PNG IHDR / JPEG SOF header; NULL when the bytes
    * are corrupt, truncated, or not a recognized image container.
    */
  def imageWidth(blob: Column): Column = nullif(ImageWidth(blob), lit(-1))

  /** Pixel height from a PNG IHDR / JPEG SOF header; NULL like
    * [[imageWidth]].
    */
  def imageHeight(blob: Column): Column = nullif(ImageHeight(blob), lit(-1))

  /** q95 fixture encoder: deterministic BMP / PNG / corrupt bytes from a
    * doc_id (graft.multimodal.PixelCodec.makeImage — pixel values are pure
    * doc_id arithmetic the oracle recomputes).
    */
  def pixelFixture(docId: Column): Column =
    Kernel(classOf[graft.multimodal.PixelCodec.type], "makeImage",
      BinaryType)(docId)

  /** REAL pixel decode (BMP BI_RGB + PNG truecolor incl. all five filters
    * and zlib inflate): array [n_pixels, sum_r, sum_g, sum_b, n_nonzero]
    * or NULL on corrupt/truncated/unsupported bytes. StaticInvoke — inside
    * whole-stage codegen, never a UDF.
    */
  def pixelStats(blob: Column): Column =
    Kernel(classOf[graft.multimodal.PixelCodec.type], "stats",
      ArrayType(LongType, containsNull = false), returnNullable = true)(blob)

  /** q148 fixture encoder: deterministic 9×8 gray-pattern BMP / PNG /
    * corrupt bytes from a doc_id ([[graft.multimodal.PHash
    * .makePatternImage]] — pattern bits are murmur64 parity the oracle
    * recomputes via DuckDB hash()).
    */
  def patternImageFixture(docId: Column): Column =
    Kernel(classOf[graft.multimodal.PHash.type], "makePatternImage",
      BinaryType)(docId)

  /** Perceptual image hashes over a decoded blob: [dhash64, ahash64]
    * (difference / average hash, 8×8 grid, LSB-first bits) or NULL on
    * corrupt/unsupported bytes. StaticInvoke — whole-stage codegen,
    * never a UDF.
    */
  def perceptualHashes(blob: Column): Column =
    Kernel(classOf[graft.multimodal.PHash.type], "hashes",
      ArrayType(LongType, containsNull = false), returnNullable = true)(blob)

  /** q35/q155 fixture encoder: a deterministic per-doc APNG clip (2–4
    * pattern frames, all five scanline filters, corrupt bytes at
    * doc%8==1) whose frame hashes the oracle recomputes
    * ([[graft.multimodal.PHash.makeClip]]).
    */
  def clipFixture(docId: Column): Column =
    Kernel(classOf[graft.multimodal.PHash.type], "makeClip",
      BinaryType)(docId)

  /** q158 fixture encoder: a deterministic per-doc APNG clip with SHOT
    * structure (6–10 frames, runs of near-identical frames separated by
    * planted hard cuts) whose frame hashes the oracle recomputes
    * ([[graft.multimodal.PHash.makeSceneClip]]).
    */
  def sceneClipFixture(docId: Column): Column =
    Kernel(classOf[graft.multimodal.PHash.type], "makeSceneClip",
      BinaryType)(docId)

  /** Per-frame dHashes of an APNG clip (real frame walk: chunk CRC
    * audit, per-frame zlib inflate, unfilter, the q148 dHash per
    * frame), NULL on undecodable bytes ([[graft.multimodal.PHash
    * .frameHashes]]). StaticInvoke — whole-stage codegen, never a UDF.
    */
  def clipFrameHashes(blob: Column): Column =
    Kernel(classOf[graft.multimodal.PHash.type], "frameHashes",
      ArrayType(LongType, containsNull = false), returnNullable = true)(blob)

  /** Unicode NFC canonical form ([[UnicodeNorm.nfc]] — UAX #15): the
    * normalization every content hash should see first.
    */
  val Nfc: Kernel =
    Kernel(classOf[UnicodeNorm.type], "nfc", StringType, returnNullable = true)
  def nfc(c: Column): Column = Nfc(c)

  /** q129 fixture encoder: a deterministic per-doc WAV container
    * (PCM/IEEE-float/torn/non-RIFF/non-WAVE by doc_id arithmetic,
    * odd-sized LIST chunk for the pad-byte corner) whose header fields
    * the oracle recomputes ([[graft.multimodal.AudioHeader.makeWav]]).
    */
  def wavFixture(docId: Column): Column =
    Kernel(classOf[graft.multimodal.AudioHeader.type], "makeWav",
      BinaryType)(docId)

  /** WAV/RIFF header decode: array [audio_format, channels, sample_rate,
    * bits_per_sample, n_frames, duration_ms] or NULL on
    * torn/non-WAV bytes ([[graft.multimodal.AudioHeader.wavMeta]]).
    */
  def wavMeta(blob: Column): Column =
    Kernel(classOf[graft.multimodal.AudioHeader.type], "wavMeta",
      ArrayType(LongType, containsNull = false), returnNullable = true)(blob)

  /** q154 fixture encoder: a deterministic per-doc PCM WAV whose energy
    * contour the oracle replays from doc_id arithmetic
    * ([[graft.multimodal.AudioFingerprint.makeFpWav]]).
    */
  def fpWavFixture(docId: Column): Column =
    Kernel(classOf[graft.multimodal.AudioFingerprint.type], "makeFpWav",
      BinaryType)(docId)

  /** Energy-threshold VAD segmentation of a PCM WAV: [n_frames,
    * n_active, n_segments, longest_silence, first_active] or NULL on
    * undecodable bytes ([[graft.multimodal.AudioFingerprint.vadStats]]).
    * StaticInvoke — whole-stage codegen, never a UDF.
    */
  def vadStats(blob: Column, threshold: Long): Column =
    Kernel(classOf[graft.multimodal.AudioFingerprint.type], "vadStats",
      ArrayType(LongType, containsNull = false), returnNullable = true)(
      blob, lit(threshold))

  /** 64-bit audio energy-contour fingerprint over a PCM WAV blob —
    * exactly gain-invariant (cross-multiplied mean comparison), NULL on
    * corrupt/non-integer-PCM bytes ([[graft.multimodal
    * .AudioFingerprint.fingerprint]]). StaticInvoke — whole-stage
    * codegen, never a UDF.
    */
  def audioFingerprint(blob: Column): Column =
    Kernel(classOf[graft.multimodal.AudioFingerprint.type], "fingerprint",
      LongType, returnNullable = true)(blob)

  /** q123 fixture encoder: a deterministic per-doc PDF (uncompressed /
    * FlateDecode / encrypted / torn / no-text by doc_id arithmetic) whose
    * expected extraction the oracle recomputes (graft.sources.PdfText
    * .fixture).
    */
  def pdfFixture(docId: Column, text: Column): Column =
    Kernel(classOf[graft.sources.PdfText.type], "fixture", BinaryType,
      propagateNull = false)(docId, text)

  /** PDF Info-dictionary metadata (graft.sources.PdfText.infoMeta,
    * ISO 32000-1 §14.3.3 subset): array [title, author,
    * creation_date_raw], NULLs when out of subset — never a throw.
    */
  def pdfInfo(blob: Column): Column =
    Kernel(classOf[graft.sources.PdfText.type], "infoMeta",
      ArrayType(StringType, containsNull = true))(blob)

  /** q141 fixture: the q123 skeleton plus a planted Info object. */
  def pdfInfoFixture(docId: Column): Column =
    Kernel(classOf[graft.sources.PdfText.type], "fixtureWithInfo",
      BinaryType, propagateNull = false)(docId)

  /** REAL bounded-subset PDF text extraction (object/stream walk,
    * FlateDecode via JDK zlib, BT/ET text operators with the full literal
    * string escape set — graft.sources.PdfText, ISO 32000-1 subset):
    * array [text, reason] where reason ∈ ok / not_pdf / encrypted / torn
    * / stream_too_large / no_text and text is non-NULL only on ok.
    * StaticInvoke — inside whole-stage codegen, never a UDF; corrupt
    * bytes produce reasons, never a throw.
    */
  def pdfExtract(blob: Column): Column =
    Kernel(classOf[graft.sources.PdfText.type], "extract",
      ArrayType(StringType, containsNull = true))(blob)

  /** q96 fixture encoder: a complete single-record ESRI `.shp` file for one
    * fixture polygon (graft.sources.ShpCodec.makeShp — vertices are the
    * q60/q85 star-polygon arithmetic the oracle recomputes).
    */
  def shpFixture(polyId: Column): Column =
    Kernel(classOf[graft.sources.ShpCodec.type], "makeShp",
      BinaryType)(polyId)

  /** REAL ESRI `.shp` container parse (header walk, BE record framing /
    * LE shape bodies, multi-part polygons, ring de-closing, bbox
    * cross-check): array<struct<recno, part, ring:array<array<double>>>>
    * or NULL on corrupt/truncated/unsupported bytes. StaticInvoke — inside
    * whole-stage codegen, never a UDF.
    */
  val shpRecordsType: ArrayType = ArrayType(StructType(Seq(
    StructField("recno", IntegerType, nullable = false),
    StructField("part", IntegerType, nullable = false),
    StructField("ring", ArrayType(ArrayType(DoubleType, containsNull = false),
      containsNull = false), nullable = false))), containsNull = false)

  def shpRecords(blob: Column): Column =
    Kernel(classOf[graft.sources.ShpCodec.type], "rings", shpRecordsType,
      returnNullable = true)(blob)

  // ---- decimal-exact aggregation helpers ----------------------------------

  /** Order-independent sum of a 2-dp double column: cast to decimal(18,2)
    * (exact, associative) then back to double. Keeps Spark/DuckDB/any-engine
    * results bit-identical regardless of partitioning or merge order —
    * needed because plain double summation is order-dependent and the
    * physical merge order changes with the number of executors.
    */
  def exactSum2(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  /** Exact floor(a/b) for BIGINT columns, b > 0: subtracting pmod makes
    * the numerator exactly divisible, so the integral `div` (truncating)
    * and a true floor agree, and nothing routes through a double.
    */
  def floorDiv(a: Column, b: Column): Column =
    call_function("div", a - pmod(a, b), b)
}
