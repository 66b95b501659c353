package graft.functions

/** Fixed-width integer fields read out of a byte array — the one home of
  * the byte-order arithmetic every binary format graft parses in place
  * shares: PNG/JPEG (big-endian), BMP/GIF/RIFF (little-endian) and the
  * ESRI shapefile (both, by field). Pure arithmetic on `b(i)`, no
  * allocation, no bounds check beyond the array's own: callers gate the
  * length first (a torn field throws, and every decoder turns that into
  * NULL).
  *
  * 32-bit fields come back as their unsigned value in a Long; `.toInt`
  * reinterprets one as the signed field (BMP's top-down height, the
  * shapefile's counts).
  */
object Bytes {

  def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff

  def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)

  def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)

  def be32(b: Array[Byte], i: Int): Long =
    (be16(b, i).toLong << 16) | be16(b, i + 2)

  def le32(b: Array[Byte], i: Int): Long =
    le16(b, i) | (le16(b, i + 2).toLong << 16)

  /** IEEE-754 double stored little-endian (the shapefile's coordinates). */
  def leDouble(b: Array[Byte], i: Int): Double =
    java.lang.Double.longBitsToDouble(le32(b, i) | (le32(b, i + 4) << 32))

  /** The four ASCII characters at `i`: a RIFF chunk id, a PNG chunk type. */
  def fourCC(b: Array[Byte], i: Int): String =
    new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** Whether `b` opens with the gzip member magic 1f 8b (RFC 1952 §2.3.1). */
  def isGzip(b: Array[Byte]): Boolean =
    b.length >= 2 && u8(b, 0) == 0x1f && u8(b, 1) == 0x8b
}
