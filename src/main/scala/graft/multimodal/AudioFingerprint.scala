package graft.multimodal

/** Audio CONTENT fingerprint — the audio leg of near-dup detection
  * (images have [[PHash]]; headers alone, [[AudioHeader]], can't see
  * that two files carry the same recording re-encoded or re-gained).
  * The construction is the energy-difference sign hash of the public
  * robust-audio-fingerprinting literature (Haitsma/Kalker 2002) in its
  * simplest deterministic form, applied the way [[PHash]] applies
  * dHash to the pixel grid:
  *
  *  1. decode the PCM `data` chunk of a RIFF/WAVE container (integer
  *     PCM only — format code 1 at 8 or 16 bits; anything else is an
  *     honest NULL, the q95/q129 damage posture) and mix channels by
  *     SUMMING them (no divide — exactness beats convention here);
  *  2. amplitude per frame a(f) = |mix(f)|;
  *  3. split the frame axis into 65 boxes (the [[PHash]] cells rule:
  *     box k covers [⌊k·n/65⌋, ⌊(k+1)·n/65⌋) widened to ≥1 frame, so
  *     any n ≥ 1 fingerprints);
  *  4. bit k (0..63) = mean-energy(k+1) > mean-energy(k), compared as
  *     the EXACT cross-multiplication e(k+1)·cnt(k) > e(k)·cnt(k+1) —
  *     no floor-mean rounding, so a uniform integer GAIN g scales both
  *     sides by g and the fingerprint is exactly gain-invariant (the
  *     brightness invariance perceptual image hashing exists for,
  *     transplanted to the time axis).
  *
  * Near-dup pairs then ride the SAME 16-bit-chunk pigeonhole Hamming
  * blocking as text SimHash (q31) and image pHash (q148)
  * ([[graft.dedup.SimHashDedup.hammingPairs]]) — nothing about the
  * pair machinery is audio-specific.
  *
  * Consumed via Catalyst `StaticInvoke` (graft.functions.F
  * .audioFingerprint) — whole-stage codegen, never a UDF; corrupt,
  * torn, non-PCM or stride-inconsistent bytes return NULL, never throw.
  *
  * Scale note: energies accumulate in Long — exact for any real-world
  * clip (overflow needs > 2⁴⁷ frames at full amplitude); at 100 TB the
  * decode pass dominates and the 8-byte fingerprint rows are nothing,
  * the q148 economics exactly.
  */
object AudioFingerprint {

  /** Per-frame amplitudes |Σ channels| of an integer-PCM WAV (the
    * [[AudioHeader.walk]] chunk walk), or null on corrupt/torn/non-PCM
    * bytes — shared by [[fingerprint]] and [[vadStats]].
    */
  private def decodeAmp(b: Array[Byte]): Array[Long] = {
    val w = AudioHeader.walk(b)
    if (w == null || w.format != 1) return null // integer PCM only
    val ch = w.channels; val bits = w.bits; val dataOff = w.dataOff
    if (ch <= 0 || (bits != 8 && bits != 16)) return null
    val stride = ch * bits / 8
    if (w.dataSize % stride != 0) return null
    val n = (w.dataSize / stride).toInt
    if (n < 1) return null
    // amplitude per frame: |sum of channel samples| (8-bit WAV is
    // unsigned, centered at 128 per the RIFF spec; 16-bit is signed LE)
    val amp = new Array[Long](n)
    var f = 0
    while (f < n) {
      var s = 0L
      var c = 0
      while (c < ch) {
        s += (if (bits == 8) (b(dataOff + f * stride + c) & 0xff) - 128
              else graft.functions.Bytes.le16(b, dataOff + f * stride + c * 2)
                .toShort.toInt)
        c += 1
      }
      amp(f) = math.abs(s)
      f += 1
    }
    amp
  }

  /** 64-bit energy-contour fingerprint, or NULL when the bytes are not
    * an integer-PCM WAV.
    */
  def fingerprint(b: Array[Byte]): java.lang.Long = {
    val amp = decodeAmp(b)
    if (amp == null) return null
    val n = amp.length
    // box energies + counts (the PHash cells rule on the time axis)
    val e = new Array[Long](65)
    val cnt = new Array[Long](65)
    var k = 0
    while (k < 65) {
      val f0 = k * n / 65
      val f1 = math.max((k + 1) * n / 65, f0 + 1)
      var s = 0L
      var i = f0
      while (i < f1) { s += amp(i); i += 1 }
      e(k) = s; cnt(k) = f1 - f0
      k += 1
    }
    var fp = 0L
    k = 0
    while (k < 64) {
      if (e(k + 1) * cnt(k) > e(k) * cnt(k + 1)) fp |= 1L << k
      k += 1
    }
    java.lang.Long.valueOf(fp)
  }

  /** Energy-threshold activity segmentation (the VAD primitive every
    * speech pipeline runs before transcription or chunking): split the
    * frame axis into the same 65 boxes the fingerprint uses, call a box
    * ACTIVE when its energy clears `threshold` per frame — compared as
    * the exact cross-multiplication Σamp ≥ threshold·frames, no
    * floor-mean rounding — and fold the run structure. Output
    * [n_frames, n_active, n_segments, longest_silence, first_active]
    * (first_active = −1 when no box is active — the SENTINEL travels
    * in the array as-is, F.vadStats passes it through unchanged
    * because the array schema is containsNull = false; the q163 query
    * is where −1 becomes NULL for the report — ADVICE r16 doc fix),
    * or null on undecodable bytes. Absolute-threshold semantics:
    * a gain change legitimately moves verdicts — this is NOT the
    * gain-invariant fingerprint, and the spec pins that distinction.
    */
  def vadStats(b: Array[Byte], threshold: Long)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val amp = decodeAmp(b)
    if (amp == null) return null
    val n = amp.length
    val boxes = 65
    var nActive = 0L; var nSeg = 0L
    var longestSil = 0L; var curSil = 0L
    var firstActive = -1L
    var prevActive = false
    var k = 0
    while (k < boxes) {
      val f0 = k * n / boxes
      val f1 = math.max((k + 1) * n / boxes, f0 + 1)
      var s = 0L
      var i = f0
      while (i < f1) { s += amp(i); i += 1 }
      val active = s >= threshold * (f1 - f0)
      if (active) {
        nActive += 1
        if (firstActive < 0) firstActive = k
        if (!prevActive) nSeg += 1
        curSil = 0
      } else {
        curSil += 1
        if (curSil > longestSil) longestSil = curSil
      }
      prevActive = active
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array(n.toLong, nActive, nSeg, longestSil, firstActive))
  }

  // ---- q154 fixture ----------------------------------------------------

  /** Deterministic per-doc PCM WAV whose energy contour the oracle
    * replays from doc_id arithmetic alone (the q148 plant pattern):
    * motif m = doc/4 carries a 65-box level sequence lvl(k) =
    * murmur64(131m + salt + k) & 63 (DuckDB hash() parity-identical);
    * every frame in box k holds the constant sample ±(37·lvl(k) + 5)
    * with alternating sign, so box mean-energy ordering IS level
    * ordering and fingerprint bit k = lvl(k+1) > lvl(k). Variants by
    * v = doc % 4: v0 the motif, v1 a ×2 uniform-GAIN twin
    * (fingerprint-identical BY CONSTRUCTION — the invariance the hash
    * exists for), v2 a +17 bump of box m%65 (Hamming ≤ 2 — the
    * blocking key), v3 an independently salted far contour (salt
    * 424243); doc % 8 == 1 ships corrupt bytes (NULL — even motifs
    * lose their gain twin, observably). Channels 1 + m%2 (both carry
    * the same sample — the mix sums), 2 + m%3 frames per box.
    */
  def makeFpWav(docId: Long): Array[Byte] = {
    if (docId % 8 == 1) return "JUNKJUNKJUNKJUNK".getBytes("US-ASCII")
    val m = docId / 4; val v = (docId % 4).toInt
    val salt = if (v == 3) 424243L else 0L
    val ch = 1 + (m % 2).toInt
    val spw = 2 + (m % 3).toInt
    val n = 65 * spw
    val gain = if (v == 1) 2 else 1
    val stride = ch * 2
    val dataSize = n * stride
    val out = new AudioHeader.LeWriter
    out.ascii("RIFF"); out.w32(4 + 24 + 8 + dataSize)
    out.ascii("WAVE")
    out.ascii("fmt "); out.w32(16)
    out.w16(1); out.w16(ch); out.w32(8000); out.w32(8000L * stride)
    out.w16(stride); out.w16(16)
    out.ascii("data"); out.w32(dataSize)
    var f = 0
    while (f < n) {
      val k = f / spw
      var lvl = graft.functions.Hashing.murmur64(131L * m + salt + k) & 63L
      if (v == 2 && k == (m % 65).toInt) lvl += 17
      val s = (if (f % 2 == 0) 1 else -1) * (37 * lvl.toInt + 5) * gain
      var c = 0
      while (c < ch) { out.w16(s & 0xffff); c += 1 }
      f += 1
    }
    out.toByteArray
  }
}
