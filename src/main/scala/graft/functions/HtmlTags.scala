package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{lit, regexp_extract, regexp_extract_all}

/** The one reader of HTML open tags behind the page-metadata columns
  * ([[RobotsMeta]], [[StructuredData]]). It covers the subset every
  * template engine emits: tag names match case-insensitively, attribute
  * order is free, and attribute values are double-quoted — unquoted or
  * single-quoted attributes read as absent. Scanning goes tag-list-first
  * (every open tag of a name, then attributes read off each tag), so a
  * decoy mention of a key inside another tag's value never matches.
  * Pure regex expressions: one map-side codegen pass, no UDF.
  */
object HtmlTags {

  /** Every `<tag ...>` opening tag in `html`, verbatim, in page order. */
  def openTags(html: Column, tag: String): Column =
    regexp_extract_all(html, lit(s"(?i)<$tag\\b[^>]*>"), lit(0))

  /** The double-quoted value of attribute `name` in one open tag, raw:
    * "" both when the attribute is absent and when its value is empty.
    * Callers that want NULL for both wrap it in `nullif`.
    */
  def attr(tag: Column, name: String): Column =
    regexp_extract(tag, s"""(?i)\\b$name\\s*=\\s*"([^"]*)"""", 1)
}
