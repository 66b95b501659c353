package graft

import graft.functions.RobotsMeta
import org.apache.spark.sql.functions._

/** Kernel corners for the robots-meta page directives (q125) — the q125
  * oracle proves the plant round trip at corpus scale; these pin the
  * in-subset parsing corners individually and the fail-open posture for
  * out-of-subset markup.
  */
class RobotsMetaSpec extends SparkSpec {

  private def eval(html: String): (Boolean, Boolean, Int, Long) = {
    val h = lit(html)
    val r = spark.range(1).select(
      RobotsMeta.noindex(h).as("ni"), RobotsMeta.nofollow(h).as("nf"),
      size(RobotsMeta.anchorTags(h)).as("nl"),
      RobotsMeta.followableLinks(h).as("fl")).head()
    (r.getBoolean(0), r.getBoolean(1), r.getInt(2), r.getLong(3))
  }

  test("directive variants: plain, case-folded, reversed attr order, none") {
    assert(eval("""<meta name="robots" content="noindex">""")
      == ((true, false, 0, 0L)))
    assert(eval("""<META NAME="ROBOTS" CONTENT="NOFOLLOW">""")
      == ((false, true, 0, 0L)))
    assert(eval("""<meta content="noindex, nofollow" name="robots">""")
      == ((true, true, 0, 0L)))
    assert(eval("""<meta name="robots" content="none">""")
      == ((true, true, 0, 0L)))
    assert(eval("""<meta name="robots" content="index, follow">""")
      == ((false, false, 0, 0L)))
  }

  test("non-robots names and pages without the tag contribute nothing") {
    assert(eval("""<meta name="googlebot" content="noindex">""")
      == ((false, false, 0, 0L)))
    assert(eval("""<meta name="viewport" content="noindex">""")
      == ((false, false, 0, 0L)))
    assert(eval("<html><body>no head</body></html>")
      == ((false, false, 0, 0L)))
  }

  test("multiple robots metas union (most restrictive wins)") {
    assert(eval("""<meta name="robots" content="noindex">""" +
      """<meta name="robots" content="nofollow">""")
      == ((true, true, 0, 0L)))
    // whitespace-sloppy content list still splits on commas
    assert(eval("""<meta name="robots" content=" noindex ,  nofollow ">""")
      == ((true, true, 0, 0L)))
  }

  test("rel=nofollow is token-scoped; page nofollow zeroes all links") {
    val a = """<a href="/a">one</a>"""
    val nf = """<a rel="nofollow" href="/b">two</a>"""
    val multi = """<a href="/c" rel="nofollow noopener">three</a>"""
    val near = """<a href="/d" rel="nofollowish">four</a>"""
    assert(eval(a + nf + multi + near) == ((false, false, 4, 2L)))
    // the page directive overrides every per-link rel
    assert(eval("""<meta name="robots" content="nofollow">""" + a + near)
      == ((false, true, 2, 0L)))
  }

  test("out-of-subset markup fails open to no-directive") {
    // unquoted attribute values are outside the double-quoted subset
    assert(eval("<meta name=robots content=noindex>")
      == ((false, false, 0, 0L)))
    // a robots meta with no content attribute reads as empty
    assert(eval("""<meta name="robots">""") == ((false, false, 0, 0L)))
  }

  test("an empty content attribute is no directive: false, not NULL") {
    val h = lit("<meta name=\"robots\" content=\"\"><a href=\"/x\">x</a>")
    val r = spark.range(1).select(RobotsMeta.noindex(h),
      RobotsMeta.nofollow(h), size(RobotsMeta.directives(h)),
      RobotsMeta.followableLinks(h)).head()
    assert(!r.isNullAt(0) && !r.getBoolean(0), s"noindex: $r")
    assert(!r.isNullAt(1) && !r.getBoolean(1), s"nofollow: $r")
    assert(r.getInt(2) == 0 && r.getLong(3) == 1L, s"$r")
  }
}
