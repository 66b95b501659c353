package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Source scanning for the specs that guard where code may live. */
object CodeScan {

  /** `f`'s lines with comments and string literals cut out (line
    * numbers kept, so `cast("double")` reads `cast()`): a comment opener
    * inside a string (a URL, a file glob) must not hide the code after
    * it. Block comments nest. With `keepStrings` only comments go, for
    * guards that look inside literals (a regex, a magic number).
    */
  def codeLines(f: Path, keepStrings: Boolean = false): Seq[String] = {
    var depth = 0 // of nested block comments
    var triple = false // inside a multi-line """ string
    Files.readAllLines(f).asScala.toSeq.map { raw =>
      val out = new StringBuilder
      var i = 0
      def at(t: String) = raw.startsWith(t, i)
      // a literal's text up to `to`: kept or cut
      def literal(to: Int): Unit = {
        val end = math.min(to, raw.length)
        if (keepStrings) out ++= raw.substring(i, end)
        i = end
      }
      while (i < raw.length) {
        if (depth > 0) {
          if (at("*/")) { depth -= 1; i += 2 }
          else if (at("/*")) { depth += 1; i += 2 }
          else i += 1
        } else if (triple) {
          if (at("\"\"\"")) { triple = false; literal(i + 3) }
          else literal(i + 1)
        } else if (at("/*")) { depth = 1; i += 2 }
        else if (at("//")) i = raw.length
        else if (at("\"\"\"")) { triple = true; literal(i + 3) }
        else if (at("'\\")) { // an escaped char literal
          val end = raw.indexOf('\'', i + 3)
          literal(if (end < 0) raw.length else end + 1)
        } else if (at("'") && raw.startsWith("'", i + 2)) literal(i + 3) // a char
        else if (at("\"")) { // a one-line string
          var j = i + 1
          while (j < raw.length && raw(j) != '"')
            j += (if (raw(j) == '\\') 2 else 1)
          literal(j + 1)
        } else { out += raw(i); i += 1 }
      }
      out.toString
    }
  }
}
