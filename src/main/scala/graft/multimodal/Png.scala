package graft.multimodal

import java.nio.ByteBuffer
import java.util.zip.CRC32

import graft.functions.Bytes.{be32, fourCC, u8}

/** The PNG chunk stream (RFC 2083 §3): the 8-byte signature, then chunks
  * framed as 4-byte big-endian length, 4-byte ASCII type, data, and a
  * CRC-32 over type and data. The one home of that framing for every
  * reader and writer of PNG/APNG bytes: [[MediaHeader]]'s header sniff
  * reads [[Signature]] only; [[PixelCodec]]'s still and APNG decoders
  * both read through [[walk]], its encoders write through [[chunk]].
  */
private[graft] object Png {

  /** 89 50 4E 47 0D 0A 1A 0A. */
  val Signature: Array[Byte] =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** Whether `b` opens with [[Signature]] (no allocation). */
  def hasSignature(b: Array[Byte]): Boolean = {
    if (b == null || b.length < 8) return false
    var i = 0
    while (i < 8) { if (b(i) != Signature(i)) return false; i += 1 }
    true
  }

  /** One framed chunk: length, type, data, CRC-32 over type and data. */
  def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](12 + data.length)
    val bb = ByteBuffer.wrap(out) // PNG is big-endian throughout
    bb.putInt(data.length)
    val tb = typ.getBytes("US-ASCII")
    bb.put(tb).put(data)
    val crc = new CRC32
    crc.update(tb); crc.update(data)
    bb.putInt(crc.getValue.toInt)
    out
  }

  /** The in-scope image header: canvas width and height. */
  final case class Header(w: Int, h: Int)

  /** The IHDR body at `off`, or null when it is not 13 bytes or is out
    * of the decoders' scope: 8-bit truecolor (color type 2), no
    * interlace, each side ≤ 2^20 and at most 2^26 samples.
    */
  private def header(b: Array[Byte], off: Int, len: Int): Header = {
    if (len != 13) return null
    val w = be32(b, off).toInt; val h = be32(b, off + 4).toInt
    if (u8(b, off + 8) != 8 || u8(b, off + 9) != 2 || u8(b, off + 12) != 0)
      return null
    if (w <= 0 || h <= 0 || w > (1 << 20) || h > (1 << 20) ||
      3L * w * h > (1L << 26)) return null
    Header(w, h)
  }

  /** The verified chunk walk: the signature, then every chunk up to IEND
    * with its length bounded by the buffer and its CRC-32 checked before
    * any byte of it is used. IHDR is read here ([[header]]); every other
    * chunk before IEND goes to `onChunk(type, dataOff, len, hdr)`, where
    * `hdr` is null until IHDR has been seen. Returns the header, or null
    * when the signature is wrong, a chunk is torn or CRC-damaged, IHDR is
    * out of scope or missing, the stream ends before IEND, or `onChunk`
    * returns false. Bytes after IEND are not read.
    */
  def walk(b: Array[Byte])(
      onChunk: (String, Int, Int, Header) => Boolean): Header = {
    if (!hasSignature(b)) return null
    var pos = 8
    var hdr: Header = null
    while (true) {
      if (pos + 12 > b.length) return null
      val len = be32(b, pos)
      if (len > Int.MaxValue - 12 || pos + 12 + len > b.length) return null
      val n = len.toInt
      val crc = new CRC32
      crc.update(b, pos + 4, 4 + n)
      if (crc.getValue != be32(b, pos + 8 + n)) return null
      fourCC(b, pos + 4) match {
        case "IEND" => return hdr
        case "IHDR" => hdr = header(b, pos + 8, n); if (hdr == null) return null
        case typ => if (!onChunk(typ, pos + 8, n, hdr)) return null
      }
      pos += 12 + n
    }
    null
  }
}
