package graft

import graft.functions.CodeFilters

/** CodeFilters laws on hand-built sources the corpus can't isolate:
  * each gate trips independently, and the geometry arithmetic is
  * hand-checkable.
  */
class CodeFiltersSpec extends SparkSpec {
  import spark.implicits._

  private def run(rows: (Long, String)*) =
    CodeFilters.evaluate(rows.toSeq.toDF("doc_id", "text"),
      "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap

  test("geometry: lines, max, avg, long-line share are exact") {
    val text = "ab\n" + "x" * 130 + "\ncdef" // lens 2, 130, 4
    val r = run(1L -> text)(1L)
    assert(r.getAs[Long]("n_lines") == 3L)
    assert(r.getAs[Long]("max_line_len") == 130L)
    assert(r.getAs[Long]("avg_line_x100") == 100L * 136 / 3)
    assert(r.getAs[Long]("long_line_frac_x1e6") == 1000000L / 3)
  }

  test("each gate trips independently") {
    val clean = "val x = 1\nval y = 2"
    val longLine = "y" * 1200
    val minified = "-".repeat(60) + "ab" // alnum frac 2/62 < 0.25
    val autogen = "// Do Not Edit this file\nval ok = 1"
    val m = run(1L -> clean, 2L -> longLine, 3L -> minified, 4L -> autogen)
    assert(m(1L).getAs[Boolean]("code_keep"))
    assert(!m(2L).getAs[Boolean]("code_keep"), "max-line gate")
    assert(!m(3L).getAs[Boolean]("code_keep"), "alnum gate")
    assert(m(3L).getAs[Long]("alnum_frac_x1e6") == 1000000L * 2 / 62)
    assert(!m(4L).getAs[Boolean]("code_keep"), "autogen gate")
    assert(m(4L).getAs[Boolean]("is_autogen"))
  }

  test("every autogen marker trips the gate in either case") {
    // the byte scan gates on each marker's first byte; a marker the gate
    // did not cover would silently never match
    val texts = CodeFilters.AutogenMarkers.flatMap(mk =>
      Seq(mk.toLowerCase, mk.toUpperCase)).map(mk => s"val x = 1 // $mk\n")
    val m = run(texts.zipWithIndex.map { case (t, i) => i.toLong -> t }: _*)
    texts.indices.foreach(i =>
      assert(m(i.toLong).getAs[Boolean]("is_autogen"), texts(i)))
  }

  test("empty text is total: 1 empty line, zero fractions, kept") {
    val r = run(7L -> "")(7L)
    assert(r.getAs[Long]("n_lines") == 1L)
    assert(r.getAs[Long]("max_line_len") == 0L)
    assert(r.getAs[Long]("alnum_frac_x1e6") == 0L)
    assert(!r.getAs[Boolean]("code_keep"), "alnum gate catches empties")
  }
}
