package graft.multimodal

import graft.functions.Bytes.{fourCC, le16, le32}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** WAV/RIFF audio-container header decode — the audio leg of the
  * multimodal metadata path (images: [[MediaHeader]]/[[PixelCodec]]).
  * Format per the public Microsoft/IBM RIFF WAVE spec (also ITU-hosted):
  * a `RIFF` outer chunk typed `WAVE`, then a chunk WALK — `fmt ` carries
  * (audio_format, channels, sample_rate, bits_per_sample) as
  * little-endian integers, `data` carries the sample payload whose byte
  * length over the frame stride gives the frame count and duration.
  * Chunks are word-aligned: an odd-sized chunk is followed by a pad
  * byte, and a reader that forgets the pad desyncs on every file with
  * an odd-length LIST/INFO block — the walk here pads, and the fixture
  * plants an odd-sized LIST chunk to prove it.
  *
  * Decode posture (the [[PixelCodec]] discipline): torn, truncated,
  * non-RIFF, non-WAVE, or stride-inconsistent bytes yield NULL, never a
  * throw; a declared `data` size that overruns the buffer is torn (this
  * reader audits real bytes, it does not trust declarations). Pure JVM
  * kernel via StaticInvoke — whole-stage codegen, no UDF.
  */
object AudioHeader {

  /** The `fmt ` fields and the `data` chunk's place in a WAV. */
  private[multimodal] final case class WavLayout(format: Int, channels: Int,
      sampleRate: Long, bits: Int, dataOff: Int, dataSize: Long)

  /** The RIFF/WAVE chunk walk: the first `fmt ` and `data` chunks, or
    * null when the bytes are not RIFF/WAVE, a chunk's declared size
    * overruns the buffer (torn), `fmt ` is short, or either chunk is
    * missing. Odd-sized chunks are followed by a pad byte.
    */
  private[multimodal] def walk(b: Array[Byte]): WavLayout = {
    if (b == null || b.length < 12) return null
    if (fourCC(b, 0) != "RIFF" || fourCC(b, 8) != "WAVE") return null
    var off = 12
    var fmtCode = -1; var ch = -1; var sr = -1L; var bits = -1
    var dataOff = -1; var dataSize = -1L
    while (off + 8 <= b.length && (fmtCode < 0 || dataOff < 0)) {
      val id = fourCC(b, off)
      val sz = le32(b, off + 4)
      val body = off + 8
      if (body + sz > b.length) return null // declared size overruns: torn
      if (id == "fmt ") {
        if (sz < 16) return null
        fmtCode = le16(b, body)
        ch = le16(b, body + 2)
        sr = le32(b, body + 4)
        bits = le16(b, body + 14)
      } else if (id == "data") {
        dataOff = body; dataSize = sz
      }
      off = body + sz.toInt + (sz.toInt & 1) // word-align: odd sizes pad
    }
    if (fmtCode < 0 || dataOff < 0) null
    else WavLayout(fmtCode, ch, sr, bits, dataOff, dataSize)
  }

  /** A little-endian byte writer for the WAV fixtures. */
  private[multimodal] final class LeWriter
      extends java.io.ByteArrayOutputStream {
    def w16(x: Int): Unit = { write(x & 0xff); write((x >> 8) & 0xff) }
    def w32(x: Long): Unit = { var i = 0; while (i < 4) {
      write(((x >> (8 * i)) & 0xff).toInt); i += 1 } }
    def ascii(s: String): Unit = write(s.getBytes("US-ASCII"))
  }

  /** [audio_format, channels, sample_rate, bits_per_sample, n_frames,
    * duration_ms] or NULL when the bytes are not a parseable WAV.
    */
  def wavMeta(b: Array[Byte]): ArrayData = {
    val w = walk(b)
    if (w == null) return null
    val stride = w.channels.toLong * w.bits / 8
    if (w.channels <= 0 || w.sampleRate <= 0 || w.bits <= 0 ||
      w.bits % 8 != 0 || w.dataSize % stride != 0) return null
    val frames = w.dataSize / stride
    new GenericArrayData(Array(w.format.toLong, w.channels.toLong,
      w.sampleRate, w.bits.toLong, frames, frames * 1000L / w.sampleRate))
  }

  /** Deterministic per-doc WAV fixture (the q95/q123 plant pattern):
    * parameters are pure doc_id arithmetic the oracle recomputes, while
    * the Spark side must genuinely walk the container it assembled.
    * Variants by id mod 11: 7 = torn mid-header, 9 = not RIFF, 10 =
    * RIFF but not WAVE (an AVI) — all NULL; 8 = IEEE-float format code
    * 3 at 32 bits; everything else PCM. Ids ≡ 1 mod 4 get an odd-sized
    * LIST chunk between fmt and data (the pad-byte corner).
    */
  def makeWav(docId: Long): Array[Byte] = {
    val v = (docId % 11).toInt
    if (v == 9) return "JUNKJUNKJUNKJUNK".getBytes("US-ASCII")
    val ch = 1 + (docId % 2).toInt
    val float32 = v == 8
    val fmtCode = if (float32) 3 else 1
    val bits = if (float32) 32 else if (docId % 3 == 0) 8 else 16
    val sr = 8000 + (docId % 5).toInt * 2000
    val frames = 1 + (docId % 50).toInt
    val stride = ch * bits / 8
    val dataSize = frames * stride
    val list = if (docId % 4 == 1) 8 + 5 + 1 else 0 // odd LIST + pad
    val riffSize = 4 + 24 + list + 8 + dataSize
    val out = new LeWriter
    out.ascii("RIFF"); out.w32(riffSize)
    out.ascii(if (v == 10) "AVI " else "WAVE")
    out.ascii("fmt "); out.w32(16)
    out.w16(fmtCode); out.w16(ch); out.w32(sr); out.w32(sr.toLong * stride)
    out.w16(stride); out.w16(bits)
    if (list > 0) {
      out.ascii("LIST"); out.w32(5)
      out.ascii("INFO!"); out.write(0) // pad byte
    }
    out.ascii("data"); out.w32(dataSize)
    out.write(new Array[Byte](dataSize))
    val full = out.toByteArray
    if (v == 7) java.util.Arrays.copyOf(full, 18) else full
  }
}
