package graft.multimodal

import graft.functions.Bytes.{be16, be32, le16, le32, u8}
import org.apache.spark.unsafe.types.UTF8String

/** Real image-container header kernels — the first non-stub slice of the
  * multimodal decode path (BinaryPipeline's media decode stays stubbed for
  * pixel data; dimensions/format need no codec).
  *
  * Both parses are pure public-format arithmetic:
  *  - PNG (RFC 2083 §3.1/§4.1.1): 8-byte signature
  *    89 50 4E 47 0D 0A 1A 0A, then the IHDR chunk MUST come first —
  *    4-byte length, 4-byte type "IHDR", then width and height as
  *    big-endian u32 at byte offsets 16..19 / 20..23.
  *  - JPEG (ITU T.81 §B.1/§B.2.2): SOI marker FF D8, then a marker-segment
  *    walk (every segment: FF <marker> <len_hi> <len_lo>, length includes
  *    its own 2 bytes; fill bytes FF before a marker are legal; RST/TEM
  *    markers are standalone) until a frame header SOF_n
  *    (C0..CF minus C4=DHT, C8=JPG-extension, CC=DAC): sample precision
  *    u8, then height and width as big-endian u16.
  *  - GIF (GIF87a/89a specification §17/§18): 6-byte signature
  *    "GIF87a"/"GIF89a", then the Logical Screen Descriptor — width and
  *    height as LITTLE-endian u16 at byte offsets 6/8.
  *  - BMP (Windows bitmap, public layout): "BM", 14-byte file header,
  *    then the DIB header whose u32-LE size field selects the layout —
  *    12 (BITMAPCOREHEADER: u16-LE width/height at 18/20) or ≥ 40
  *    (BITMAPINFOHEADER family: i32-LE width/height at 18/22; a
  *    negative height is the legal top-down orientation flag, so its
  *    magnitude is the pixel height).
  *
  * All three entry points are STATIC methods consumed via Catalyst
  * [[org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke]]
  * (graft.functions.F.imageFormat/imageWidth/imageHeight) — inside
  * whole-stage codegen, never a UDF. Corrupt, truncated, or non-image
  * bytes return the -1 sentinel (dimensions) / null (format); the F
  * wrappers lift -1 to SQL NULL so downstream filters stay declarative.
  */
object MediaHeader {

  private def isPng(b: Array[Byte]): Boolean =
    // IHDR must be the first chunk (RFC 2083 §3.2) and carries 13 bytes
    b != null && b.length >= 24 && Png.hasSignature(b) &&
      be32(b, 8) == 13L && u8(b, 12) == 'I' && u8(b, 13) == 'H' &&
      u8(b, 14) == 'D' && u8(b, 15) == 'R'

  private def isJpeg(b: Array[Byte]): Boolean =
    b != null && b.length >= 4 && u8(b, 0) == 0xff && u8(b, 1) == 0xd8

  private def isGif(b: Array[Byte]): Boolean =
    b != null && b.length >= 10 &&
      u8(b, 0) == 'G' && u8(b, 1) == 'I' && u8(b, 2) == 'F' &&
      u8(b, 3) == '8' && (u8(b, 4) == '7' || u8(b, 4) == '9') &&
      u8(b, 5) == 'a'

  private def isBmp(b: Array[Byte]): Boolean =
    // length gate per DIB layout: a minimal BITMAPCOREHEADER file is valid
    // at 22 bytes (u16 dims end at offset 22); the info-header family
    // needs 26 (i32 height ends at 26) — ADVICE r7
    b != null && b.length >= 22 && u8(b, 0) == 'B' && u8(b, 1) == 'M' && {
      val dib = le32(b, 14).toInt
      dib == 12 || (dib >= 40 && b.length >= 26)
    }

  private def bmpDim(b: Array[Byte], coreOff: Int, infoOff: Int): Int =
    if (le32(b, 14) == 12L) {
      val v = le16(b, coreOff)
      if (v > 0) v else -1
    } else {
      val v = le32(b, infoOff).toInt
      // height < 0 is legal top-down orientation; width must be positive
      val mag = if (infoOff == 22 && v != Int.MinValue) math.abs(v) else v
      if (mag > 0) mag else -1
    }

  private def isSof(m: Int): Boolean =
    m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc

  /** Byte offset of the SOF frame-header payload (the precision byte), or
    * -1 if the stream is corrupt / truncated / ends before a SOF.
    */
  private def jpegSofOffset(b: Array[Byte]): Int = {
    val n = b.length
    var i = 2
    while (i + 1 < n) {
      if (u8(b, i) != 0xff) return -1 // lost marker sync
      var j = i + 1
      while (j < n && u8(b, j) == 0xff) j += 1 // fill bytes (T.81 §B.1.1.2)
      if (j >= n) return -1
      val m = u8(b, j)
      if (m == 0xd9) return -1 // EOI before any SOF
      else if ((m >= 0xd0 && m <= 0xd7) || m == 0x01 || m == 0xd8) {
        i = j + 1 // standalone marker: RSTn / TEM / (redundant) SOI
      } else {
        if (j + 2 >= n) return -1
        val segLen = be16(b, j + 1)
        if (segLen < 2) return -1
        if (isSof(m)) {
          // payload: precision u8, height u16, width u16
          if (segLen < 8 || j + 7 >= n) return -1
          return j + 3
        }
        if (m == 0xda) return -1 // SOS: entropy data follows, SOF missed
        i = j + 1 + segLen
      }
    }
    -1
  }

  /** Container format sniff: "png" / "jpeg" / "gif" / "bmp" / null. */
  def format(b: Array[Byte]): UTF8String =
    if (isPng(b)) UTF8String.fromString("png")
    else if (isJpeg(b)) UTF8String.fromString("jpeg")
    else if (isGif(b)) UTF8String.fromString("gif")
    else if (isBmp(b)) UTF8String.fromString("bmp")
    else null

  /** Pixel width from the header, or -1 (corrupt / truncated / unknown
    * container). PNG width is u32 but capped at 2^31-1 by the spec; JPEG
    * is u16.
    */
  def width(b: Array[Byte]): Int =
    if (isPng(b)) {
      val w = be32(b, 16)
      if (w > 0 && w <= Int.MaxValue) w.toInt else -1
    } else if (isJpeg(b)) {
      val off = jpegSofOffset(b)
      if (off < 0) -1
      else {
        val w = be16(b, off + 3)
        if (w > 0) w else -1
      }
    } else if (isGif(b)) {
      val w = le16(b, 6)
      if (w > 0) w else -1
    } else if (isBmp(b)) bmpDim(b, coreOff = 18, infoOff = 18)
    else -1

  /** Pixel height from the header, or -1 (see [[width]]). */
  def height(b: Array[Byte]): Int =
    if (isPng(b)) {
      val h = be32(b, 20)
      if (h > 0 && h <= Int.MaxValue) h.toInt else -1
    } else if (isJpeg(b)) {
      val off = jpegSofOffset(b)
      if (off < 0) -1
      else {
        val h = be16(b, off + 1)
        if (h > 0) h else -1
      }
    } else if (isGif(b)) {
      val h = le16(b, 8)
      if (h > 0) h else -1
    } else if (isBmp(b)) bmpDim(b, coreOff = 20, infoOff = 22)
    else -1
}
