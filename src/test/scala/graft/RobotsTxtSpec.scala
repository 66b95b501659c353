package graft

import graft.functions.RobotsTxt

/** Kernel-level coverage for RFC 9309 robots evaluation — q105's oracle
  * proves the composition; these pin each documented rule in isolation.
  * Pure-JVM (kernel called directly): the column path is the same static
  * method via StaticInvoke, exercised by the query surface.
  */
class RobotsTxtSpec extends SparkSpec {

  private val robots =
    """# corpus policy
      |User-agent: graftbot
      |Disallow: /private/
      |Allow: /private/ok/
      |Disallow: /*.tmp$
      |
      |User-agent: *
      |Disallow: /
      |""".stripMargin

  private def ok(agent: String, path: String, r: String = robots): Boolean =
    RobotsTxt.allowedKernel(
      org.apache.spark.unsafe.types.UTF8String.fromString(r),
      org.apache.spark.unsafe.types.UTF8String.fromString(agent),
      org.apache.spark.unsafe.types.UTF8String.fromString(path))

  private def sitemaps(robots: String): Seq[String] = {
    val a = RobotsTxt.sitemapsKernel(
      if (robots == null) null
      else org.apache.spark.unsafe.types.UTF8String.fromString(robots))
    (0 until a.numElements()).map(i =>
      a.getUTF8String(i).toString)
  }

  private def delay(robots: String, agent: String): Double =
    RobotsTxt.crawlDelayKernel(
      if (robots == null) null
      else org.apache.spark.unsafe.types.UTF8String.fromString(robots),
      org.apache.spark.unsafe.types.UTF8String.fromString(agent))

  test("longest match wins; Allow beats a shorter Disallow") {
    assert(ok("graftbot", "/a/1"))
    assert(!ok("graftbot", "/private/x"))
    assert(ok("graftbot", "/private/ok/x"))
  }

  test("wildcard and end-anchor patterns") {
    assert(!ok("graftbot", "/files/3.tmp"))
    assert(ok("graftbot", "/files/3.tmp.bak")) // $ anchors the end
    assert(!ok("b", "/axbyz", "User-agent: b\nDisallow: /a*b\n"))
  }

  test("agent fallback to the * group; unknown agent with no * allowed") {
    assert(!ok("otherbot", "/a/1")) // * group: Disallow /
    assert(ok("x", "/a", "User-agent: b\nDisallow: /\n"))
  }

  test("agent names are case-insensitive; comments strip") {
    assert(!ok("GraftBot", "/private/x"))
  }

  test("consecutive User-agent lines share a group") {
    val r = "User-agent: a\nUser-agent: b\nDisallow: /x\n"
    assert(!ok("b", "/x/1", r) && !ok("a", "/x/1", r) && ok("b", "/y", r))
  }

  test("empty Disallow matches nothing; tie → Allow wins") {
    assert(ok("b", "/anything", "User-agent: b\nDisallow:\n"))
    val tie = "User-agent: b\nDisallow: /a/\nAllow: /a*/\n" // hmm lengths 3 vs 4
    assert(ok("b", "/a/z", tie)) // Allow /a*/ (len 4) beats Disallow /a/ (3)
    val eq = "User-agent: b\nDisallow: /ab\nAllow: /a*\n"
    assert(ok("b", "/ab", eq)) // equal length 3: Allow wins
  }

  test("rules before any User-agent line are ignored; null → allowed") {
    assert(ok("b", "/x", "Disallow: /\nUser-agent: b\nAllow: /x\n"))
    assert(RobotsTxt.allowedKernel(null, null, null))
  }

  test("an agent group with only empty rules never falls through to *") {
    // the classic 'this bot may crawl everything' idiom (r11 review):
    // the graftbot group exists, so the * group's Disallow / must not
    // apply even though graftbot's only rule is empty-valued
    val r = "User-agent: graftbot\nDisallow:\n\nUser-agent: *\nDisallow: /\n"
    assert(ok("graftbot", "/anything", r))
    assert(!ok("otherbot", "/anything", r))
    // note: WITHOUT a rule between them the two User-agent lines would
    // share one group (consecutive-run rule) and Disallow / would bind
    // both agents — the empty Disallow is what separates the groups
  }

  test("Sitemap: discovery lines are group-independent, in file order") {
    // valid anywhere: before, inside, and after groups; case-insensitive
    // field name; comments strip; empty values drop
    val r = "Sitemap: http://h.example/a.xml\n" +
      "User-agent: b\nDisallow: /p\n" +
      "SITEMAP: http://h.example/b.xml.gz # primary\n" +
      "Sitemap:\n" +
      "User-agent: *\nDisallow: /\n" +
      "sitemap:   http://h.example/c.xml  \n"
    assert(sitemaps(r) == Seq("http://h.example/a.xml",
      "http://h.example/b.xml.gz", "http://h.example/c.xml"))
    assert(sitemaps("User-agent: *\nDisallow: /\n") == Seq.empty)
    assert(sitemaps(null) == Seq.empty)
    // a Sitemap line between groups must not change gate decisions
    assert(!ok("otherbot", "/x",
      "User-agent: b\nDisallow: /p\nSitemap: http://h.example/s.xml\n" +
        "User-agent: *\nDisallow: /\n"))
  }

  test("Crawl-delay: group-scoped, exact-agent precedence, first value wins") {
    val r = "User-agent: b\nDisallow: /p\nCrawl-delay: 2.5\n\n" +
      "User-agent: *\nCrawl-delay: 10\nDisallow: /\n"
    assert(delay(r, "b") == 2.5)
    assert(delay(r, "B") == 2.5)       // agent names case-fold
    assert(delay(r, "other") == 10.0)  // falls to the * group
    // an exact group WITHOUT a delay never falls through to *
    val noDelay = "User-agent: b\nDisallow: /p\n\n" +
      "User-agent: *\nCrawl-delay: 10\nDisallow: /\n"
    assert(delay(noDelay, "b") == -1.0)
    // first parseable value wins; garbage values skip
    val multi = "User-agent: b\nCrawl-delay: soon\nCrawl-delay: 3\n" +
      "Crawl-delay: 7\n"
    assert(delay(multi, "b") == 3.0)
    assert(delay(null, "b") == -1.0)
    assert(delay("", "b") == -1.0)
  }

  test("SQL surface: NULL robots body means no robots.txt → allowed") {
    GraftFunctions.register(spark)
    val row = spark.sql(
      "SELECT graft_robots_allowed(CAST(NULL AS STRING), 'bot', '/x') AS a")
      .collect()(0)
    assert(!row.isNullAt(0) && row.getBoolean(0),
      "NULL robots must evaluate to TRUE, not NULL")
  }

  test("CR, LF and CRLF line endings read the same (RFC 9309 §2.2)") {
    val lines = Seq("User-agent: b", "Disallow: /x # no", "Crawl-delay: 4",
      "Sitemap: http://h.example/s.xml", "User-agent: *", "Disallow: /")
    for (eol <- Seq("\n", "\r", "\r\n")) {
      val r = lines.mkString(eol)
      val name = eol.map(c => f"${c.toInt}%02x").mkString
      assert(!ok("b", "/x", r) && ok("b", "/y", r), name)
      assert(!ok("other", "/y", r), name)
      assert(delay(r, "b") == 4.0, name)
      assert(delay(r, "other") == -1.0, name)
      assert(sitemaps(r) == Seq("http://h.example/s.xml"), name)
    }
    assert(!ok("bot", "/x", "User-agent: *\rDisallow: /x"))
  }
}
