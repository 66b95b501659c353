package graft.multimodal

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Perceptual image hashing — the image leg of near-dup detection (a
  * multimodal corpus dedups images before anything else; text has
  * q17/q18, images get the classical dHash/aHash pair here):
  *
  *  - **dHash** (difference hash): box-downscale the grayscale image to
  *    a 9×8 grid, bit (cx, cy) = cell(cx+1, cy) > cell(cx, cy) — robust
  *    to uniform brightness/contrast shifts because only horizontal
  *    gradients survive.
  *  - **aHash** (average hash): 8×8 grid, bit = cell > mean of the 64
  *    cells — robust to small local perturbations.
  *
  * Both are public-domain constructions (the pHash family popularized
  * by the ImageHash/pHash libraries). Near-dup pairs then come from the
  * SAME 16-bit-chunk pigeonhole Hamming blocking the q31 SimHash path
  * uses — nothing about the pair machinery is image-specific.
  *
  * Determinism discipline (every step exact integer, engine-portable):
  * grayscale is the integer luma floor((299·R + 587·G + 114·B)/1000);
  * each grid cell is the floor-mean of its pixel box (cell x-range
  * [⌊cx·w/gw⌋, ⌊(cx+1)·w/gw⌋), widened to at least one pixel so
  * images narrower than the grid still hash); the aHash mean is the
  * floor-mean of the 64 cells. Strict `>` everywhere.
  *
  * Consumed via Catalyst `StaticInvoke` (graft.functions.F
  * .perceptualHashes) — whole-stage codegen, never a UDF; corrupt or
  * unsupported bytes return null, never throw (the q95 damage posture).
  *
  * [[makePatternImage]] is the q148 fixture encoder: a two-level
  * (40/200) gray pattern whose on/off bit at pixel (x, y) of motif
  * m = doc/4 is murmur64(73m + 9y + x) & 1 — DuckDB `hash(BIGINT)`
  * is bit-identical to [[graft.functions.Hashing.murmur64]], so the
  * oracle regenerates every hash bit from doc_id arithmetic alone while
  * Spark genuinely decodes the BMP/PNG containers it assembled.
  * Variants: v = doc % 4 — v0 the motif, v1 a +3 uniform-brightness
  * twin (hash-identical by construction), v2 one flipped pattern pixel
  * at (m mod 7, m mod 8) (Hamming ≤ 2 on dHash — the blocking key; on
  * aHash the flipped cell plus any edge cell the ≤3 floor-mean shift
  * crosses), v3 an independently salted
  * far pattern; doc % 8 == 1 ships corrupt bytes (NULL hashes — every
  * even motif loses its twin, so the NULL drop is observable in the
  * pair counts). Reference has no image surface; this extends SURVEY
  * §2 item 27 (the training-data-pipeline posture).
  */
object PHash {

  /** Integer luma, floor((299r + 587g + 114b)/1000) — equal-channel
    * gray pixels map to exactly that gray value.
    */
  @inline private def luma(r: Int, g: Int, b: Int): Int =
    (299 * r + 587 * g + 114 * b) / 1000

  /** Box-downscaled grayscale grid (gw × gh), floor-mean per cell; cell
    * ranges widen to ≥1 pixel so any image ≥1×1 hashes.
    */
  private def cells(img: PixelCodec.Img, gw: Int, gh: Int): Array[Int] = {
    val w = img.w; val h = img.h; val px = img.px
    val out = new Array[Int](gw * gh)
    var cy = 0
    while (cy < gh) {
      val y0 = cy * h / gh
      val y1 = math.max((cy + 1) * h / gh, y0 + 1)
      var cx = 0
      while (cx < gw) {
        val x0 = cx * w / gw
        val x1 = math.max((cx + 1) * w / gw, x0 + 1)
        var s = 0L; var n = 0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val i = 3 * (y * w + x)
            s += luma(px(i), px(i + 1), px(i + 2)); n += 1
            x += 1
          }
          y += 1
        }
        out(cy * gw + cx) = (s / n).toInt
        cx += 1
      }
      cy += 1
    }
    out
  }

  /** [dhash64, ahash64] as a 2-element array, or null on undecodable
    * bytes. Bit i = cy·8 + cx of each hash (LSB-first packing).
    */
  def hashes(b: Array[Byte]): ArrayData = {
    val h = hashesRaw(b)
    if (h == null) null else new GenericArrayData(h)
  }

  /** dHash of a decoded image — factored out so the APNG clip path
    * ([[frameHashes]]) hashes each frame with EXACTLY the still-image
    * construction.
    */
  private[multimodal] def dhashOf(img: PixelCodec.Img): Long = {
    val d = cells(img, 9, 8)
    var dh = 0L
    var cy = 0
    while (cy < 8) {
      var cx = 0
      while (cx < 8) {
        if (d(cy * 9 + cx + 1) > d(cy * 9 + cx))
          dh |= 1L << (cy * 8 + cx)
        cx += 1
      }
      cy += 1
    }
    dh
  }

  /** Per-frame dHashes of an APNG clip ([[PixelCodec.decodeApngFrames]]
    * → [[dhashOf]] per frame), or null on undecodable/unsupported
    * bytes — the clip-level signature q155 pairs on.
    */
  def frameHashes(b: Array[Byte]): ArrayData =
    try {
      val frames = PixelCodec.decodeApngFrames(b)
      if (frames == null) null
      else new GenericArrayData(frames.map(dhashOf))
    } catch { case _: Exception => null }

  /** JVM-native form of [[hashes]] for direct (non-Catalyst) callers. */
  def hashesRaw(b: Array[Byte]): Array[Long] =
    try {
      val img = PixelCodec.decodeRgb(b)
      if (img == null) return null
      val dh = dhashOf(img)
      val a = cells(img, 8, 8)
      var sum = 0L
      var i = 0
      while (i < 64) { sum += a(i); i += 1 }
      val mean = sum / 64
      var ah = 0L
      i = 0
      while (i < 64) { if (a(i) > mean) ah |= 1L << i; i += 1 }
      Array(dh, ah)
    } catch { case _: Exception => null }

  // ---- q148 fixture ----------------------------------------------------

  private val W = 9; private val H = 8

  /** The single-source-of-truth pattern bit the oracle mirrors:
    * murmur64(73·motif + salt + 9y + x) & 1, salt 997907 for the far
    * variant. Within-image offsets 9y + x span 0..71 < 73, so motifs
    * never overlap.
    */
  @inline private def patternBit(m: Long, salted: Boolean, x: Int,
      y: Int): Int = {
    val salt = if (salted) 997907L else 0L
    (graft.functions.Hashing.murmur64(73L * m + salt + 9L * y + x) & 1L)
      .toInt
  }

  /** Gray value of pixel (x, y) for doc d (see the object doc): the v2
    * flip position (m mod 7, m mod 8) keeps x ≤ 6, away from the
    * double-width aHash edge cell, so the flip moves exactly one aHash
    * cell value and at most two dHash comparisons (the aHash mean
    * shifts by ≤3, which may additionally flip 120-valued edge cells).
    */
  private def gray(d: Long, x: Int, y: Int): Int = {
    val m = d / 4; val v = (d % 4).toInt
    var bit = patternBit(m, v == 3, x, y)
    if (v == 2 && x == (m % 7).toInt && y == (m % 8).toInt) bit = 1 - bit
    val base = if (bit == 1) 200 else 40
    if (v == 1) base + 3 else base
  }

  /** q148 fixture: 9×8 equal-channel gray images — BMP for even docs
    * (alternating row order), PNG for odd (cycling scanline filters),
    * corrupt bytes for doc % 8 == 1.
    */
  def makePatternImage(docId: Long): Array[Byte] =
    if (docId % 8 == 1)
      PixelCodec.truncatedPng
    else {
      val f = (x: Int, y: Int, _: Int) => gray(docId, x, y)
      if (docId % 2 == 0) PixelCodec.encodeBmp(W, H, docId % 4 == 0, f)
      else PixelCodec.encodePng(W, H, y => ((docId + y) % 5).toInt, f)
    }

  // ---- q35/q155 clip fixture -------------------------------------------

  /** Frames-per-clip for motif m — shared by the fixture and both
    * oracles (q35 frame counts, q155 equal-length pairing).
    */
  @inline private def clipFrames(m: Long): Int = 2 + (m % 3).toInt

  /** Gray value of pixel (x, y) in frame fr of clip doc d: the q148
    * gray() construction with a 73-per-frame stride (within-frame
    * offsets 9y + x ≤ 71 < 73, frames ≤ 4 so 73·fr ≤ 219 < 521 —
    * motifs never overlap). v1 = +3 brightness twin (every frame's
    * dHash invariant), v2 = one flipped pattern pixel in frame
    * m mod nf alone (that frame Hamming ≤ 2, the others identical),
    * v3 = independently salted far clip (salt 777781).
    */
  private def clipGray(d: Long, fr: Int, x: Int, y: Int): Int = {
    val m = d / 4; val v = (d % 4).toInt
    val salt = if (v == 3) 777781L else 0L
    var bit = (graft.functions.Hashing.murmur64(
      521L * m + salt + 73L * fr + 9L * y + x) & 1L).toInt
    if (v == 2 && fr == (m % clipFrames(m)).toInt &&
      x == (m % 7).toInt && y == (m % 8).toInt) bit = 1 - bit
    val base = if (bit == 1) 200 else 40
    if (v == 1) base + 3 else base
  }

  /** q35/q155 fixture: a 9×8 APNG clip of 2–4 frames (scanline filters
    * cycle per (doc, frame, row) so all five appear), corrupt truncated
    * bytes for doc % 8 == 1 — the [[makePatternImage]] plant pattern
    * extended along the time axis.
    */
  def makeClip(docId: Long): Array[Byte] =
    if (docId % 8 == 1)
      PixelCodec.truncatedPng
    else
      PixelCodec.encodeApng(W, H, clipFrames(docId / 4),
        (fr, y) => ((docId + fr + y) % 5).toInt,
        (fr, x, y, _) => clipGray(docId, fr, x, y))

  // ---- q158 scene-cut fixture --------------------------------------------

  /** Frames-per-scene-clip for doc d — shared by the fixture and the
    * q158 oracle.
    */
  @inline private def sceneFrames(d: Long): Int = 6 + (d % 5).toInt

  /** Planted-cut indicator for transition fr-1 → fr (fr ≥ 1):
    * murmur64(500009·d + fr) & 3 == 0 (~25% of transitions). The
    * ENGINE never sees this — it detects cuts from hash distance; the
    * plant only shapes the fixture so both cut and non-cut transitions
    * exist. DuckDB replay: hash(...) % 4 = 0.
    */
  @inline private def sceneCut(d: Long, fr: Int): Boolean =
    (graft.functions.Hashing.murmur64(500009L * d + fr) & 3L) == 0L

  /** Gray value of pixel (x, y) in frame fr of scene-clip doc d: frames
    * within a shot share the shot's pattern — bit = murmur64(1000003·d
    * + 4001·shot + 9y + x) & 1 (offsets 9y + x ≤ 71 < 4001, shot ≤ 10
    * so 4001·shot < 1000003 — shots never overlap) — plus one per-frame
    * JITTER pixel flip at (jh & 7, (jh >>> 3) & 7) for jh =
    * murmur64(9000011·d + fr), so adjacent within-shot frames differ by
    * ≤ 2 pixel flips (dHash Hamming ≤ 4 < the detection threshold 8)
    * while cut transitions land on independent patterns. All strides
    * and masks are power-of-two so the unsigned DuckDB hash() replay is
    * bit-exact (& 1 ≡ % 2, & 7 ≡ % 8, >>> 3 ≡ // 8).
    */
  private def sceneGray(d: Long, fr: Int, x: Int, y: Int): Int = {
    var shot = 0
    var i = 1
    while (i <= fr) { if (sceneCut(d, i)) shot += 1; i += 1 }
    var bit = (graft.functions.Hashing.murmur64(
      1000003L * d + 4001L * shot + 9L * y + x) & 1L).toInt
    val jh = graft.functions.Hashing.murmur64(9000011L * d + fr)
    if (x == (jh & 7L).toInt && y == ((jh >>> 3) & 7L).toInt) bit = 1 - bit
    if (bit == 1) 200 else 40
  }

  /** q158 fixture: a 9×8 APNG clip of 6–10 frames with SHOT structure —
    * runs of near-identical frames (per-frame jitter ≤ 1 pixel)
    * separated by planted hard cuts (independent shot patterns);
    * corrupt truncated bytes for doc % 8 == 1. The oracle regenerates
    * every frame hash from doc_id arithmetic while Spark decodes the
    * animation containers it assembled.
    */
  def makeSceneClip(docId: Long): Array[Byte] =
    if (docId % 8 == 1)
      PixelCodec.truncatedPng
    else
      PixelCodec.encodeApng(W, H, sceneFrames(docId),
        (fr, y) => ((docId + fr + y) % 5).toInt,
        (fr, x, y, _) => sceneGray(docId, fr, x, y))
}
