package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.functions.Bytes
import org.scalatest.funsuite.AnyFunSuite

/** The shared wire-format readers: [[Bytes]]' field reads pinned against
  * `java.nio.ByteBuffer`, and the guard that keeps each format decision
  * in its one reader.
  */
class FormatReaderSpec extends AnyFunSuite {

  test("Bytes reads every field width in both orders, signed via toInt") {
    val b = Array(0x01, 0x82, 0xfe, 0xff, 0x7f, 0x00, 0x10, 0xc0, 0x40, 0x09)
      .map(_.toByte)
    def nio(order: java.nio.ByteOrder) = java.nio.ByteBuffer.wrap(b).order(order)
    val be = nio(java.nio.ByteOrder.BIG_ENDIAN)
    val le = nio(java.nio.ByteOrder.LITTLE_ENDIAN)
    for (i <- 0 to b.length - 2) {
      assert(Bytes.u8(b, i) == (b(i) & 0xff))
      assert(Bytes.be16(b, i) == (be.getShort(i) & 0xffff), s"be16 @$i")
      assert(Bytes.le16(b, i) == (le.getShort(i) & 0xffff), s"le16 @$i")
    }
    for (i <- 0 to b.length - 4) {
      assert(Bytes.be32(b, i) == (be.getInt(i) & 0xffffffffL), s"be32 @$i")
      assert(Bytes.le32(b, i) == (le.getInt(i) & 0xffffffffL), s"le32 @$i")
      assert(Bytes.le32(b, i).toInt == le.getInt(i), s"signed le32 @$i")
      assert(Bytes.fourCC(b, i).length == 4)
    }
    for (i <- 0 to b.length - 8) {
      val d = Bytes.leDouble(b, i)
      assert(java.lang.Double.doubleToRawLongBits(d) ==
        java.lang.Double.doubleToRawLongBits(le.getDouble(i)), s"leDouble @$i")
    }
    assert(Bytes.isGzip(Array(0x1f, 0x8b).map(_.toByte)))
    assert(!Bytes.isGzip(Array(0x1f).map(_.toByte)))
    assert(!Bytes.isGzip(Array(0x8b, 0x1f).map(_.toByte)))
  }

  test("each wire-format decision has one reader in src/main") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(files.size > 50, s"scanned only ${files.size} files")
    def name(f: Path) = root.relativize(f).toString
    val code = files.map(f => name(f) -> CodeScan.codeLines(f).mkString("\n"))
    val withStrings = files.map(f =>
      name(f) -> CodeScan.codeLines(f, keepStrings = true).mkString("\n"))
    // (what, pattern, sources it is counted in, its home: file -> count);
    // the count is zero everywhere else
    val rules = Seq(
      // a def reading one fixed-width field of a byte array at an offset
      ("byte-order field reader",
        """def\s+\w+\s*\(\s*\w+\s*:\s*Array\[Byte\]\s*,\s*\w+\s*:\s*Int\s*\)""" +
          """\s*:\s*(?:Int|Long|Short|Double|Float|String)\b""",
        code, Map("functions/Bytes.scala" -> 7)),
      ("PNG signature", """0x89\s*,\s*0x50""", code,
        Map("multimodal/Png.scala" -> 1)),
      ("gzip magic", """0x8b""", code, Map("functions/Bytes.scala" -> 1)),
      // the chunk writer and the verified walk
      ("PNG chunk CRC", """new\s+CRC32\b""", code,
        Map("multimodal/Png.scala" -> 2)),
      ("HTTP header regex", """\(\?i?m\)\^""",
        withStrings.filter(_._1.startsWith("sources/")), Map.empty[String, Int]),
      ("robots.txt line split", """\.split\(""",
        code.filter(_._1 == "functions/RobotsTxt.scala"),
        Map("functions/RobotsTxt.scala" -> 1)),
      ("robots.txt agent-group list", """var\s+\w+\s*:\s*List\[String\]""",
        code.filter(_._1 == "functions/RobotsTxt.scala"),
        Map("functions/RobotsTxt.scala" -> 1)),
      ("HTML open-tag list scan", """regexp_extract_all\(.*\\\\b\[\^>\]\*>"""",
        withStrings, Map("functions/HtmlTags.scala" -> 1)),
      ("double-quoted attribute read", """\\\\s\*=\\\\s\*\\?"\(\[\^\\?"\]\*\)""",
        withStrings.filter(f => Set("functions/RobotsMeta.scala",
          "functions/StructuredData.scala", "functions/HtmlTags.scala")(f._1)),
        Map("functions/HtmlTags.scala" -> 1)))
    val wrong = for {
      (what, pattern, sources, home) <- rules
      (file, text) <- sources
      n = pattern.r.findAllIn(text).size if n != home.getOrElse(file, 0)
    } yield s"$file: $n x $what /$pattern/, want ${home.getOrElse(file, 0)}"
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }
}
