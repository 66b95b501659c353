package graft

import graft.multimodal.{PHash, PixelCodec, Png}

/** Perceptual-hash kernel invariants the q148 fixture can't isolate:
  * the REAL box downscale (the fixture's 9×8 images hit the identity
  * grid), brightness invariance, locality, and damage totality.
  */
class PHashSpec extends SparkSpec {


  /** A w×h equal-channel image from a gray function. */
  private def bmp(w: Int, h: Int, g: (Int, Int) => Int): Array[Byte] =
    PixelCodec.encodeBmp(w, h, topDown = false, (x, y, _) => g(x, y))

  private def png(w: Int, h: Int, g: (Int, Int) => Int): Array[Byte] =
    PixelCodec.encodePng(w, h, y => y % 5, (x, y, _) => g(x, y))

  test("box downscale: a 2x upscale preserves the hash whose grid aligns") {
    def pat(x: Int, y: Int): Int =
      if (((x * 7 + y * 13) % 5) < 2) 200 else 40
    // dHash grid is 9×8: 9|18 and 8|16, so every 18×16 cell box is an
    // exact 2×2-constant block and the 9×8 original must reproduce
    val small = PHash.hashesRaw(bmp(9, 8, pat))
    val big = PHash.hashesRaw(bmp(18, 16, (x, y) => pat(x / 2, y / 2)))
    val bigPng = PHash.hashesRaw(png(18, 16, (x, y) => pat(x / 2, y / 2)))
    assert(small != null && big != null)
    assert(small(0) == big(0), "2x upscale must not move a dHash bit")
    assert(big.toSeq == bigPng.toSeq, "container must not matter")
    // aHash grid is 8×8: align on 16×16 vs its exact 2x upscale — cell
    // sums quadruple and counts quadruple, so every floor-mean is equal
    val base16 = PHash.hashesRaw(bmp(16, 16, pat))
    val up32 = PHash.hashesRaw(bmp(32, 32, (x, y) => pat(x / 2, y / 2)))
    assert(base16(1) == up32(1), "2x upscale must not move an aHash bit")
  }

  test("uniform brightness shift moves no dHash or aHash bit") {
    def pat(x: Int, y: Int): Int = if ((x + 2 * y) % 3 == 0) 180 else 60
    val a = PHash.hashesRaw(bmp(20, 14, pat))
    val b = PHash.hashesRaw(bmp(20, 14, (x, y) => pat(x, y) + 9))
    assert(a.toSeq == b.toSeq)
  }

  test("one flipped pixel is local: ≤2 dHash bits, small aHash drift") {
    def pat(x: Int, y: Int): Int =
      if (graft.functions.Hashing.murmur64(9L * y + x) % 2 == 0) 200 else 40
    val base = PHash.hashesRaw(bmp(9, 8, pat))
    val flip = PHash.hashesRaw(bmp(9, 8,
      (x, y) => if (x == 3 && y == 4) 240 - pat(x, y) else pat(x, y)))
    // the flip touches exactly two horizontal comparisons
    assert(graft.functions.Hashing.hamming(base(0), flip(0)) <= 2)
    // aHash: the flipped cell, plus any 120-valued edge cell the ≤3
    // floor-mean shift crosses — bounded by 1 + the 8 edge cells
    assert(graft.functions.Hashing.hamming(base(1), flip(1)) <= 9)
  }

  test("degenerate sizes hash: 1x1, 3x2 (narrower than the grid)") {
    val tiny = PHash.hashesRaw(bmp(1, 1, (_, _) => 128))
    assert(tiny != null && tiny(0) == 0L,
      "a constant image has no gradients: dhash 0")
    assert(tiny(1) == 0L, "no cell exceeds the mean of a constant image")
    val narrow = PHash.hashesRaw(bmp(3, 2,
      (x, y) => if ((x + y) % 2 == 0) 220 else 20))
    assert(narrow != null, "images narrower than the grid must still hash")
  }

  test("corrupt and unsupported bytes yield null, never a throw") {
    assert(PHash.hashesRaw(null) == null)
    assert(PHash.hashesRaw(Array[Byte](0x42, 0x4d, 1, 2, 3)) == null)
    assert(PHash.hashesRaw(PHash.makePatternImage(9L)) == null,
      "doc%8=1 plants corrupt bytes")
    assert(PHash.hashesRaw(PHash.makePatternImage(8L)) != null)
  }

  test("fixture variant laws: twin identical, flip close, salted far") {
    // motif groups 4m..4m+3; skip groups whose twin (4m+1) is the
    // corrupt plant (m even)
    for (m <- Seq(1L, 3L, 5L, 7L, 9L)) {
      val v0 = PHash.hashesRaw(PHash.makePatternImage(4 * m))
      val v1 = PHash.hashesRaw(PHash.makePatternImage(4 * m + 1))
      val v2 = PHash.hashesRaw(PHash.makePatternImage(4 * m + 2))
      val v3 = PHash.hashesRaw(PHash.makePatternImage(4 * m + 3))
      assert(v0.toSeq == v1.toSeq, s"group $m: twin must be hash-identical")
      assert(graft.functions.Hashing.hamming(v0(0), v2(0)) <= 2,
        s"group $m: one flipped pixel touches ≤2 dHash comparisons")
      assert(graft.functions.Hashing.hamming(v0(1), v2(1)) <= 9,
        s"group $m: flip cell + mean-shift-crossed edge cells only")
      assert(graft.functions.Hashing.hamming(v0(0), v3(0)) > 3,
        s"group $m: salted variant must be far")
    }
  }

  // ---- APNG frame walk (q35/q155) ----------------------------------------

  private def fhs(b: Array[Byte]): Option[Seq[Long]] =
    Option(PHash.frameHashes(b)).map(_.toLongArray().toSeq)

  /** Byte offset of the `nth` (1-based) chunk of type `typ`, or -1. */
  private def chunkAt(png: Array[Byte], typ: String, nth: Int): Int = {
    val bb = java.nio.ByteBuffer.wrap(png)
    var p = 8
    var seen = 0
    while (p + 12 <= png.length) {
      if (new String(png, p + 4, 4, "US-ASCII") == typ) {
        seen += 1
        if (seen == nth) return p
      }
      p += 12 + bb.getInt(p)
    }
    -1
  }

  /** `png` with the chunk at `idx` edited by `f`, its CRC recomputed so
    * only the decoders' content checks can reject it.
    */
  private def patched(png: Array[Byte], idx: Int,
      f: Array[Byte] => Unit): Array[Byte] = {
    val p = png.clone
    f(p)
    val bb = java.nio.ByteBuffer.wrap(p)
    val len = bb.getInt(idx)
    val crc = new java.util.zip.CRC32
    crc.update(p, idx + 4, 4 + len)
    bb.putInt(idx + 8 + len, crc.getValue.toInt)
    p
  }

  test("APNG round trip: frame hashes equal the per-frame still hashes") {
    // encode each frame standalone as a PNG too — the clip walk must
    // reproduce exactly the still-image dHash per frame
    val f = (fr: Int, x: Int, y: Int, c: Int) =>
      (40 + 20 * fr + 13 * x + 7 * y + c) % 256
    val clip = PixelCodec.encodeApng(9, 8, 3, (fr, y) => (fr + y) % 5, f)
    val got = fhs(clip).get
    val want = (0 until 3).map { fr =>
      PHash.hashesRaw(PixelCodec.encodePng(9, 8, y => (fr + y) % 5,
        f(fr, _, _, _)))(0)
    }
    assert(got == want)
  }

  test("APNG damage: CRC flip, sequence gap, offset frame, truncation → null") {
    val clip = PixelCodec.encodeApng(4, 3, 2, (_, _) => 0,
      (fr, x, y, _) => (fr * 50 + x + y) % 256)
    assert(fhs(clip).nonEmpty)
    // flip one payload byte mid-file: some chunk's CRC must fail
    val crcBad = clip.clone
    crcBad(crcBad.length / 2) = (crcBad(crcBad.length / 2) ^ 0x41).toByte
    assert(fhs(crcBad).isEmpty, "a corrupted chunk must fail its CRC audit")
    assert(fhs(java.util.Arrays.copyOf(clip, clip.length - 16)).isEmpty,
      "a torn tail must not half-decode")
    // an offset (non-full-frame) fcTL is an unsupported variant → null:
    // patch frame 1's fcTL x_offset and re-CRC the chunk so ONLY the
    // geometry check can reject it (the first fcTL follows acTL)
    val idx = chunkAt(clip, "fcTL", 2)
    assert(idx > 0)
    assert(fhs(patched(clip, idx, p => p(idx + 8 + 15) = 1)).isEmpty,
      "offset sub-frames are out of scope → null")
    assert(fhs(patched(clip, idx, p => p(idx + 8 + 3) = 9)).isEmpty,
      "an APNG sequence-number gap must desync to null")
  }

  test("damaged fdAT: a CRC flip nulls both decoders; a sequence gap nulls only the frames") {
    val clip = PixelCodec.encodeApng(4, 3, 3, (fr, y) => (fr + y) % 5,
      (fr, x, y, c) => (fr * 50 + 7 * x + 3 * y + c) % 256)
    val frames = fhs(clip).get
    val still = PHash.hashesRaw(clip).toSeq
    assert(still.head == frames.head, "the still decode is the default image")
    val fdat = chunkAt(clip, "fdAT", 1)
    assert(fdat > 0)
    // one data byte past the sequence number flipped, CRC left stale
    val crcBad = clip.clone
    crcBad(fdat + 8 + 5) = (crcBad(fdat + 8 + 5) ^ 0x10).toByte
    assert(fhs(crcBad).isEmpty)
    assert(PHash.hashesRaw(crcBad) == null,
      "every chunk's CRC is checked, even one the still decoder skips")
    // sequence number 2 → 3 with a valid CRC: only the APNG audit sees it
    val gap = patched(clip, fdat, p => p(fdat + 8 + 3) = 3)
    assert(fhs(gap).isEmpty, "an fdAT sequence gap must desync to null")
    assert(PHash.hashesRaw(gap).toSeq == still,
      "the still decoder reads the default image past an fdAT it skips")
  }

  /** `png` with every IDAT and fdAT cut into chunks of at most `max`
    * data bytes (the chunking common encoders write), the APNG sequence
    * numbers of fcTL and fdAT renumbered so the cut leaves no gap.
    */
  private def rechunked(png: Array[Byte], max: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.wrap(png)
    val out = new java.io.ByteArrayOutputStream
    out.write(png, 0, 8)
    var seq = 0
    def sequenced(d: Array[Byte]): Array[Byte] = {
      val s = java.nio.ByteBuffer.allocate(4 + d.length).putInt(seq).put(d)
      seq += 1
      s.array
    }
    var p = 8
    while (p < png.length) {
      val len = bb.getInt(p)
      val typ = new String(png, p + 4, 4, "US-ASCII")
      val data = java.util.Arrays.copyOfRange(png, p + 8, p + 8 + len)
      val pieces = typ match {
        case "IDAT" => data.grouped(max).toSeq
        case "fdAT" => data.drop(4).grouped(max).map(sequenced).toSeq
        case "fcTL" => Seq(sequenced(data.drop(4)))
        case _ => Seq(data)
      }
      pieces.foreach(d => out.write(Png.chunk(typ, d)))
      p += 12 + len
    }
    out.toByteArray
  }

  private def chunks(png: Array[Byte], typ: String): Int =
    Iterator.from(1).takeWhile(chunkAt(png, typ, _) > 0).size

  /** Noise: deflate barely shrinks it, so the zlib streams span many chunks. */
  private def noise(fr: Int, x: Int, y: Int, c: Int): Int =
    scala.util.hashing.MurmurHash3.productHash((fr, x, y, c)) & 0xff

  test("8 KB IDAT and fdAT chunks decode to the same pixels as one stream") {
    val still = PixelCodec.encodePng(256, 256, y => y % 5, noise(0, _, _, _))
    val cut = rechunked(still, 8192)
    assert(chunks(still, "IDAT") == 2 && chunks(cut, "IDAT") > 20)
    val want = PixelCodec.decodeRgb(still)
    assert(want != null && want.px.length == 3 * 256 * 256)
    assert(PixelCodec.decodeRgb(cut).px.sameElements(want.px))

    val clip = PixelCodec.encodeApng(128, 128, 3, (fr, y) => (fr + y) % 5,
      noise)
    val clipCut = rechunked(clip, 8192)
    assert(chunks(clip, "IDAT") == 1 && chunks(clipCut, "IDAT") > 4)
    assert(chunks(clip, "fdAT") == 2 && chunks(clipCut, "fdAT") > 8)
    val frames = PixelCodec.decodeApngFrames(clip)
    val framesCut = PixelCodec.decodeApngFrames(clipCut)
    assert(frames != null && framesCut != null)
    assert(frames.length == 3 && framesCut.length == 3)
    for (k <- 0 until 3) assert(framesCut(k).px.sameElements(frames(k).px))
    // frame 0 is also the default image the still decoder reads
    assert(PixelCodec.decodeRgb(clipCut).px.sameElements(frames(0).px))
  }

  test("clip fixture laws: twin identical, bump flips ONE frame, far far, corrupt null") {
    for (m <- Seq(1L, 3L, 5L, 7L)) {
      val v0 = fhs(PHash.makeClip(4 * m)).get
      val v1 = fhs(PHash.makeClip(4 * m + 1)).get
      val v2 = fhs(PHash.makeClip(4 * m + 2)).get
      val v3 = fhs(PHash.makeClip(4 * m + 3)).get
      val nf = 2 + (m % 3).toInt
      assert(v0.length == nf && v1.length == nf)
      assert(v0 == v1, s"clip $m: the brightness twin drifted")
      val hams = v0.zip(v2).map { case (a, b) =>
        graft.functions.Hashing.hamming(a, b) }
      assert(hams.count(_ > 0) <= 1 && hams.max <= 2,
        s"clip $m: the bump must touch one frame within Hamming 2, got $hams")
      assert(v0.zip(v3).map { case (a, b) =>
        graft.functions.Hashing.hamming(a, b) }.max > 3,
        s"clip $m: salted clip too near")
    }
    assert(fhs(PHash.makeClip(9L)).isEmpty, "doc%8==1 is the corrupt plant")
  }

  test("scene-clip fixture: within-shot jitter ≤ 4 bits, both transition kinds exist, corrupt null") {
    import graft.functions.Hashing
    var sawCut = false; var sawHold = false
    for (d <- 0L until 64L if d % 8 != 1) {
      val v = fhs(PHash.makeSceneClip(d)).get
      assert(v.length == 6 + (d % 5).toInt, s"doc $d frame count")
      for (fr <- 1 until v.length) {
        val ham = Hashing.hamming(v(fr - 1), v(fr))
        val planted = (Hashing.murmur64(500009L * d + fr) & 3L) == 0L
        if (!planted)
          // within a shot the only divergence is the two jitter flips:
          // ≤ 2 pixel flips → ≤ 4 dHash bits, strictly under the
          // detection threshold 8
          assert(ham <= 4, s"doc $d fr $fr: within-shot Hamming $ham > 4")
        if (ham > 8) sawCut = true
        if (ham <= 8) sawHold = true
      }
    }
    assert(sawCut, "fixture must contain at least one detected cut")
    assert(sawHold, "fixture must contain at least one held transition")
    assert(fhs(PHash.makeSceneClip(17L)).isEmpty,
      "doc%8==1 is the corrupt plant")
  }
}
