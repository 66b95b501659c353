package graft.multimodal

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.{Deflater, Inflater}

import graft.functions.Bytes.{be32, le16, le32, u8}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** REAL pixel decode for the two container formats that need no external
  * codec — this retires the last stubbed slice of the multimodal path
  * (BinaryPipeline's pixel decode; the header-only parse is
  * [[MediaHeader]]):
  *
  *  - BMP (Windows bitmap, public layout): uncompressed BI_RGB 24 bpp,
  *    both the 12-byte BITMAPCOREHEADER (u16 dims, always bottom-up) and
  *    the BITMAPINFOHEADER family (i32 dims; negative height = top-down),
  *    4-byte-aligned row stride, pixels stored B,G,R.
  *  - PNG (RFC 2083): chunk walk with CRC-32 verification, multi-IDAT
  *    zlib stream ([[Inflater]]), 8-bit truecolor (color type 2),
  *    all five scanline filters (None/Sub/Up/Average/Paeth, §6.2-6.6).
  *
  * Decode entry point is [[stats]], consumed via Catalyst `StaticInvoke`
  * (graft.functions.F.pixelStats) — inside whole-stage codegen, never a
  * UDF. Corrupt, truncated, CRC-damaged, or unsupported-variant bytes
  * return null, never throw: at 100 TB a poison blob must degrade to a
  * NULL row, not kill the stage.
  *
  * [[makeImage]] is the q95 fixture encoder: pixel (x,y) channel c of
  * doc d has value (7d + 31y + 13x + 5c) mod 256 with dims
  * (1 + d mod 9) × (1 + d mod 7), so the DuckDB oracle recomputes every
  * statistic from doc_id arithmetic alone while the Spark side must
  * genuinely invert the container encoding (stride, row order, filters,
  * zlib) it assembled. Reference ingests media only as opaque URIs; this
  * is the training-data-pipeline extension surface (SURVEY §2 item 27).
  */
object PixelCodec {

  /** Fixture pixel formula — the single source of truth the oracle mirrors. */
  @inline private def pv(docId: Long, x: Int, y: Int, c: Int): Int =
    ((docId * 7 + y.toLong * 31 + x.toLong * 13 + c.toLong * 5) % 256).toInt

  private def dims(docId: Long): (Int, Int) =
    ((1 + docId % 9).toInt, (1 + docId % 7).toInt)

  /** q95 fixture: doc_id % 3 → 0 BMP, 1 PNG, 2 truncated garbage (NULLs). */
  def makeImage(docId: Long): Array[Byte] = (docId % 3) match {
    case 0 => makeBmp(docId)
    case 1 => makePng(docId)
    case _ => truncatedPng // every parse column NULL
  }

  /** The PNG signature then two zero bytes — the damaged-blob fixture
    * every image generator plants (no chunk follows, so every decode is
    * NULL).
    */
  private[multimodal] def truncatedPng: Array[Byte] =
    Png.Signature ++ Array[Byte](0, 0)

  /** 24 bpp BI_RGB; odd docIds use the negative-height top-down layout so
    * both row orders are exercised (decoded stats are identical — the
    * oracle never sees the orientation).
    */
  private def makeBmp(docId: Long): Array[Byte] = {
    val (w, h) = dims(docId)
    encodeBmp(w, h, docId % 2 == 1, pv(docId, _, _, _))
  }

  /** Generalized BMP encoder — `f(x, y, c)` supplies channel c∈{0 R,
    * 1 G, 2 B} of pixel (x, y). Shared by the q95 fixture above and the
    * q148 perceptual-hash fixture ([[PHash.makePatternImage]]).
    */
  def encodeBmp(w: Int, h: Int, topDown: Boolean,
      f: (Int, Int, Int) => Int): Array[Byte] = {
    val stride = (3 * w + 3) & ~3
    val fileSize = 54 + stride * h
    val out = new Array[Byte](fileSize)
    val bb = ByteBuffer.wrap(out).order(ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(fileSize).putInt(0).putInt(54)
    bb.putInt(40).putInt(w).putInt(if (topDown) -h else h)
      .putShort(1).putShort(24).putInt(0).putInt(stride * h)
      .putInt(2835).putInt(2835).putInt(0).putInt(0)
    var r = 0
    while (r < h) {
      val y = if (topDown) r else h - 1 - r
      val base = 54 + r * stride
      var x = 0
      while (x < w) {
        out(base + 3 * x) = f(x, y, 2).toByte // B
        out(base + 3 * x + 1) = f(x, y, 1).toByte // G
        out(base + 3 * x + 2) = f(x, y, 0).toByte // R
        x += 1
      }
      r += 1
    }
    out
  }

  /** Paeth predictor (RFC 2083 §6.6). */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** 8-bit RGB, row filter (docId + y) mod 5 — every one of the five
    * standard filters appears across the fixture corpus — and the zlib
    * stream split across two IDAT chunks so the walk must concatenate.
    */
  private def makePng(docId: Long): Array[Byte] = {
    val (w, h) = dims(docId)
    encodePng(w, h, y => ((docId + y) % 5).toInt, pv(docId, _, _, _))
  }

  /** Filtered scanline buffer for one w×h RGB frame (the pre-deflate
    * PNG/APNG payload): `filterOf(y)` picks the per-row filter,
    * `f(x, y, c)` the pixel channels.
    */
  private def filteredRows(w: Int, h: Int, filterOf: Int => Int,
      f: (Int, Int, Int) => Int): Array[Byte] = {
    val rowLen = 1 + 3 * w
    val raw = new Array[Byte](rowLen * h)
    val cur = new Array[Int](3 * w)
    val prev = new Array[Int](3 * w)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        cur(3 * x) = f(x, y, 0)
        cur(3 * x + 1) = f(x, y, 1)
        cur(3 * x + 2) = f(x, y, 2)
        x += 1
      }
      val flt = filterOf(y)
      raw(y * rowLen) = flt.toByte
      var i = 0
      while (i < 3 * w) {
        val left = if (i >= 3) cur(i - 3) else 0
        val up = prev(i)
        val ul = if (i >= 3) prev(i - 3) else 0
        val fv = flt match {
          case 0 => cur(i)
          case 1 => cur(i) - left
          case 2 => cur(i) - up
          case 3 => cur(i) - ((left + up) >> 1)
          case _ => cur(i) - paeth(left, up, ul)
        }
        raw(y * rowLen + 1 + i) = (fv & 0xff).toByte
        i += 1
      }
      System.arraycopy(cur, 0, prev, 0, 3 * w)
      y += 1
    }
    raw
  }

  /** One complete zlib stream (header + Adler-32) over `raw`. The output
    * may be longer than `raw` (incompressible pixels), so it is drained
    * into a growing buffer.
    */
  private def zlib(raw: Array[Byte]): Array[Byte] = {
    val defl = new Deflater(6, false)
    defl.setInput(raw); defl.finish()
    val out = new ByteArrayOutputStream
    val buf = new Array[Byte](1 << 16)
    while (!defl.finished()) out.write(buf, 0, defl.deflate(buf))
    defl.end()
    out.toByteArray
  }

  private def ihdrBytes(w: Int, h: Int): Array[Byte] = {
    val ihdr = new Array[Byte](13)
    ByteBuffer.wrap(ihdr).putInt(w).putInt(h).put(8.toByte).put(2.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte)
    ihdr
  }

  /** Generalized PNG encoder — `filterOf(y)` picks the scanline filter,
    * `f(x, y, c)` the pixel channels (see [[encodeBmp]]).
    */
  def encodePng(w: Int, h: Int, filterOf: Int => Int,
      f: (Int, Int, Int) => Int): Array[Byte] = {
    val z = zlib(filteredRows(w, h, filterOf, f))
    val zn = z.length
    val mid = zn / 2
    Png.Signature ++ Png.chunk("IHDR", ihdrBytes(w, h)) ++
      Png.chunk("IDAT", java.util.Arrays.copyOfRange(z, 0, mid)) ++
      Png.chunk("IDAT", java.util.Arrays.copyOfRange(z, mid, zn)) ++
      Png.chunk("IEND", Array.emptyByteArray)
  }

  /** APNG encoder (the animated-PNG extension, public Mozilla spec, now
    * PNG 3rd-edition): `acTL` declares the frame count after IHDR, each
    * frame gets an `fcTL` control chunk, frame 0's pixels ride the
    * default-image IDAT stream and later frames ride `fdAT` chunks
    * (sequence number + data, one SEPARATE zlib stream per frame).
    * Full-frame frames only — every fcTL is w×h at (0,0), dispose NONE,
    * blend SOURCE — the shape a frame-sampling corpus pipeline reads.
    * `f(fr, x, y, c)` supplies pixel channels per frame.
    */
  def encodeApng(w: Int, h: Int, nFrames: Int,
      filterOf: (Int, Int) => Int,
      f: (Int, Int, Int, Int) => Int): Array[Byte] = {
    require(nFrames >= 1)
    val actl = new Array[Byte](8)
    ByteBuffer.wrap(actl).putInt(nFrames).putInt(0) // num_frames, infinite
    def fctl(seq: Int): Array[Byte] = {
      val d = new Array[Byte](26)
      ByteBuffer.wrap(d).putInt(seq).putInt(w).putInt(h).putInt(0).putInt(0)
        .putShort(1).putShort(10) // delay 1/10 s
        .put(0.toByte).put(0.toByte) // dispose NONE, blend SOURCE
      d
    }
    var out = Png.Signature ++ Png.chunk("IHDR", ihdrBytes(w, h)) ++
      Png.chunk("acTL", actl)
    var seq = 0
    var fr = 0
    while (fr < nFrames) {
      out = out ++ Png.chunk("fcTL", fctl(seq)); seq += 1
      val z = zlib(filteredRows(w, h, y => filterOf(fr, y), f(fr, _, _, _)))
      if (fr == 0) out = out ++ Png.chunk("IDAT", z)
      else {
        val d = new Array[Byte](4 + z.length)
        ByteBuffer.wrap(d).putInt(seq)
        System.arraycopy(z, 0, d, 4, z.length)
        out = out ++ Png.chunk("fdAT", d); seq += 1
      }
      fr += 1
    }
    out ++ Png.chunk("IEND", Array.emptyByteArray)
  }

  // ---- decode --------------------------------------------------------------

  /** Flat R,G,B triples in image order, or null on any malformation. Only
    * the uncompressed 24 bpp BI_RGB variants are in scope — RLE / 1-16-32
    * bpp / palette BMPs return null (unsupported, not an error path the
    * fixture exercises).
    */
  private[graft] final case class Img(w: Int, h: Int, px: Array[Int])

  /** Decoded RGB image (dims + flat R,G,B triples in image order), or
    * null on any malformation — the shared decode entry [[statsRaw]] and
    * [[PHash]] both consume.
    */
  private[graft] def decodeRgb(b: Array[Byte]): Img =
    if (b == null) null
    else if (b.length >= 2 && b(0) == 'B' && b(1) == 'M') decodeBmp(b)
    else decodePng(b)

  private def decodeBmp(b: Array[Byte]): Img = {
    if (b.length < 26 || b(0) != 'B' || b(1) != 'M') return null
    val off = le32(b, 10).toInt
    val dib = le32(b, 14).toInt
    var w = 0; var hRaw = 0; var bpp = 0; var comp = 0
    if (dib == 12) { // BITMAPCOREHEADER: u16 dims, always bottom-up
      if (b.length < 26) return null
      w = le16(b, 18); hRaw = le16(b, 20); bpp = le16(b, 24)
    } else if (dib >= 40) {
      if (b.length < 34) return null
      w = le32(b, 18).toInt; hRaw = le32(b, 22).toInt
      bpp = le16(b, 28); comp = le32(b, 30).toInt
    } else return null
    if (bpp != 24 || comp != 0 || w <= 0 || hRaw == 0 || hRaw == Int.MinValue)
      return null
    val topDown = hRaw < 0
    val h = math.abs(hRaw)
    val stride = (3 * w + 3) & ~3
    if (w > (1 << 20) || h > (1 << 20) || 3L * w * h > (1L << 26)) return null
    if (off < 0 || off.toLong + stride.toLong * h > b.length) return null
    val px = new Array[Int](3 * w * h)
    var r = 0
    while (r < h) {
      val y = if (topDown) r else h - 1 - r
      val base = off + r * stride
      var x = 0
      while (x < w) {
        px(3 * (y * w + x)) = u8(b, base + 3 * x + 2) // R
        px(3 * (y * w + x) + 1) = u8(b, base + 3 * x + 1) // G
        px(3 * (y * w + x) + 2) = u8(b, base + 3 * x) // B
        x += 1
      }
      r += 1
    }
    Img(w, h, px)
  }

  /** Flat R,G,B triples, or null. In scope: 8-bit truecolor (color type
    * 2), no interlace — the dominant training-corpus shape; every
    * chunk's CRC is verified ([[Png.walk]]) before its bytes are used.
    * The IDAT runs gather in one growing buffer, so decode stays linear
    * in the chunk count (encoders commonly cut the stream into 8 KB
    * chunks).
    */
  private def decodePng(b: Array[Byte]): Img = {
    val idat = new ByteArrayOutputStream
    val hdr = Png.walk(b) { (typ, off, len, seen) =>
      if (typ != "IDAT") true // ancillary chunks skipped
      else if (seen == null) false // IDAT before IHDR
      else { idat.write(b, off, len); true }
    }
    if (hdr == null || idat.size == 0) null
    else inflateFrame(hdr.w, hdr.h, idat.toByteArray)
  }

  /** Inflate one complete zlib stream into a w×h frame and unfilter it
    * (RFC 2083 §6.2-6.6) — shared by the PNG still path and every APNG
    * frame. Null on truncation, trailing garbage, or a bad filter id.
    */
  private def inflateFrame(w: Int, h: Int, z: Array[Byte]): Img = {
    val rowLen = 1 + 3 * w
    val raw = new Array[Byte](rowLen * h)
    val inf = new Inflater(false)
    inf.setInput(z)
    var got = 0
    while (got < raw.length && !inf.finished()) {
      val n = inf.inflate(raw, got, raw.length - got)
      if (n == 0 && (inf.needsInput() || inf.needsDictionary())) {
        inf.end(); return null // truncated / dictionary stream
      }
      got += n
    }
    val complete = got == raw.length &&
      (inf.finished() || inf.inflate(new Array[Byte](1)) == 0)
    inf.end()
    if (!complete) return null
    // unfilter; prev row is zeros for y = 0
    val px = new Array[Int](3 * w * h)
    var y = 0
    while (y < h) {
      val f = u8(raw, y * rowLen)
      if (f > 4) return null
      var j = 0
      while (j < 3 * w) {
        val v = u8(raw, y * rowLen + 1 + j)
        val left = if (j >= 3) px(3 * y * w + j - 3) else 0
        val up = if (y > 0) px(3 * (y - 1) * w + j) else 0
        val ul = if (y > 0 && j >= 3) px(3 * (y - 1) * w + j - 3) else 0
        px(3 * y * w + j) = (f match {
          case 0 => v
          case 1 => v + left
          case 2 => v + up
          case 3 => v + ((left + up) >> 1)
          case _ => v + paeth(left, up, ul)
        }) & 0xff
        j += 1
      }
      y += 1
    }
    Img(w, h, px)
  }

  /** REAL APNG frame walk — the decoder [[encodeApng]] round-trips (and
    * the retirement of BinaryPipeline's byte-slicing frame stub): walk
    * the verified chunk stream ([[Png.walk]]), collect the acTL frame
    * count, one zlib stream per frame (frame 0 from the IDAT run, later
    * frames from their fdAT runs), audit APNG sequence numbers for gaps,
    * then inflate + unfilter every frame. In scope: full-frame frames
    * only (fcTL at (0,0) with the canvas dims, dispose NONE, blend
    * SOURCE) — offset/blended sub-frames, like palette BMPs, are an
    * unsupported variant that returns null, never a throw (the q95
    * damage posture). Null also on: missing acTL, a frame-count
    * mismatch, torn chunks, CRC damage, or any broken frame stream.
    */
  private[graft] def decodeApngFrames(b: Array[Byte]): Array[Img] = {
    var nFrames = -1
    var expectSeq = 0
    val streams = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    val curStream = new ByteArrayOutputStream
    var inFrame = false
    def sequenced(off: Int): Boolean = // no gap in the APNG sequence
      be32(b, off) == expectSeq && { expectSeq += 1; true }
    // bytes [from, end) join the current frame's zlib stream
    def append(from: Int, end: Int): Unit = curStream.write(b, from, end - from)
    def endFrame(): Unit = { streams += curStream.toByteArray; curStream.reset() }
    val hdr = Png.walk(b) { (typ, off, len, seen) =>
      typ match {
        case "acTL" =>
          nFrames = be32(b, off).toInt
          len == 8 && nFrames > 0 && nFrames <= (1 << 16)
        case "fcTL" =>
          if (inFrame) endFrame()
          inFrame = true
          len == 26 && seen != null && sequenced(off) &&
            // full-frame geometry only
            be32(b, off + 4) == seen.w && be32(b, off + 8) == seen.h &&
            be32(b, off + 12) == 0 && be32(b, off + 16) == 0 &&
            u8(b, off + 24) == 0 && u8(b, off + 25) == 0
        case "IDAT" => // a default image outside the animation: unsupported
          append(off, off + len); inFrame
        case "fdAT" =>
          inFrame && len >= 4 && sequenced(off) &&
            { append(off + 4, off + len); true }
        case _ => true // ancillary chunks skipped
      }
    }
    if (hdr == null || nFrames < 0) return null
    if (inFrame) endFrame()
    if (streams.length != nFrames) return null
    val out = new Array[Img](nFrames)
    var k = 0
    while (k < nFrames) {
      if (streams(k).isEmpty) return null
      val img = inflateFrame(hdr.w, hdr.h, streams(k))
      if (img == null) return null
      out(k) = img
      k += 1
    }
    out
  }

  /** Per-image integer pixel statistics:
    * [n_pixels, sum_r, sum_g, sum_b, n_nonzero_pixels], or null when the
    * bytes are corrupt, truncated, or an unsupported variant. Consumed via
    * StaticInvoke (F.pixelStats).
    */
  def stats(b: Array[Byte]): ArrayData = {
    val s = statsRaw(b)
    if (s == null) null else new GenericArrayData(s)
  }

  /** JVM-native form of [[stats]] for direct (non-Catalyst) callers. */
  def statsRaw(b: Array[Byte]): Array[Long] =
    try {
      if (b == null) return null
      val img = decodeRgb(b)
      if (img == null) return null
      val px = img.px
      val n = px.length / 3
      var sr = 0L; var sg = 0L; var sb = 0L; var nz = 0L
      var i = 0
      while (i < n) {
        val r = px(3 * i); val g = px(3 * i + 1); val bl = px(3 * i + 2)
        sr += r; sg += g; sb += bl
        if (r + g + bl > 0) nz += 1
        i += 1
      }
      Array(n.toLong, sr, sg, sb, nz)
    } catch { case _: Exception => null }
}
