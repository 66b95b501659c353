package graft

import org.apache.spark.sql.SparkSessionExtensions

/** SQL surface: graft kernels exposed as graft_* functions, callable from
  * spark.sql with the same codegen'd StaticInvoke expressions the
  * DataFrame API lowers to.
  */
class ExtensionsSpec extends SparkSpec {

  import spark.implicits._

  test("registered graft_* SQL functions compute the kernel results") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_to_roman(14) AS r,
        |  graft_from_roman('XIV') AS n,
        |  graft_hash64('hello', 0L) = graft_hash64('hello', 0L) AS stable,
        |  graft_hamming(graft_hash64('a', 0L), graft_hash64('a', 0L)) AS d0,
        |  graft_simhash(array('x','y')) = graft_simhash(array('x','y')) AS sh,
        |  graft_fingerprint(array('a','b')) <> graft_fingerprint(array('b','a')) AS ordered,
        |  graft_cosine(array(CAST(1 AS FLOAT), CAST(0 AS FLOAT)),
        |               array(CAST(1 AS FLOAT), CAST(0 AS FLOAT))) AS cos1,
        |  graft_dot(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT)),
        |            array(CAST(3 AS FLOAT), CAST(4 AS FLOAT))) AS dot
        |""".stripMargin)
      .as[(String, Int, Boolean, Int, Boolean, Boolean, Double, Double)].head()
    assert(r == (("XIV", 14, true, 0, true, true, 1.0, 11.0)))
  }

  test("graft_l2sq and graft_bloom_contains SQL functions compute kernel results") {
    GraftFunctions.register(spark)
    val l2 = spark.sql(
      """SELECT graft_l2sq(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT)),
        |                  array(CAST(4 AS FLOAT), CAST(6 AS FLOAT))) AS d
        |""".stripMargin).as[Double].head()
    assert(l2 == 25.0) // 3^2 + 4^2
    // filter with key 42 set must contain 42; an empty filter contains nothing
    val f = graft.functions.BloomF.empty(256, 4).add(42L)
    val words = f.words.mkString("array(", "L,", "L)")
    val got = spark.sql(
      s"""SELECT graft_bloom_contains($words, 4, 42L) AS hit,
         |  graft_bloom_contains(array(0L, 0L, 0L, 0L), 4, 42L) AS miss
         |""".stripMargin).as[(Boolean, Boolean)].head()
    assert(got == ((true, false)))
  }

  test("graft functions run on table data through SQL") {
    GraftFunctions.register(spark)
    Seq((1, "the quick fox"), (2, "the quick fox"), (3, "other text"))
      .toDF("id", "text").createOrReplaceTempView("ext_docs")
    val dup = spark.sql(
      """SELECT COUNT(DISTINCT graft_hash64(text, 0L)) AS n_distinct
        |FROM ext_docs""".stripMargin).as[Long].head()
    assert(dup == 2L)
  }

  test("the session-extensions injector wires the same builder table") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext) // must inject all builders without throwing
    assert(GraftFunctions.builders.map(_.name).distinct.size ==
      GraftFunctions.builders.size)
  }

  test("DESCRIBE FUNCTION reports a graft function's usage and kernel class") {
    GraftFunctions.register(spark)
    val lines = spark.sql("DESCRIBE FUNCTION graft_html_text")
      .as[String].collect().toSeq
    assert(lines.contains("Class: graft.functions.HtmlText$"), lines)
    assert(lines.contains("Usage: visible text of an HTML string " +
      "(tags/script/style/head stripped, entities decoded, one line per " +
      "block)"), lines)
  }

  test("graft_html_text, graft_url_canon and graft_html_main equal their DataFrame functions") {
    import graft.functions.{HtmlText, UrlNorm}
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{col, expr}
    GraftFunctions.register(spark)
    val rows = Seq(
      Some("<html><head><title>T</title></head><body><p>Main paragraph " +
        "text here.</p><p><a href='x'>nav</a></p>short</body></html>"),
      Some("HTTP://Example.COM:80/a/./b/../c?q=1#frag"),
      Some("https://example.com/%7euser/"),
      Some("relative/path"),
      None).toDF("s")
    val cases: Seq[(String, String, Column)] = Seq(
      ("graft_html_text", "graft_html_text(s)", HtmlText.extract(col("s"))),
      ("graft_url_canon", "graft_url_canon(s)", UrlNorm.canonicalize(col("s"))),
      ("graft_html_main", "graft_html_main(s, 50, 12)",
        HtmlText.mainContent(col("s"), 50, 12)))
    cases.foreach { case (name, sql, df) =>
      val got = rows.select(col("s"), expr(sql).as("sql"), df.as("df"))
        .as[(Option[String], Option[String], Option[String])].collect()
      assert(got.length == 5, name)
      got.foreach { case (s, viaSql, viaDf) =>
        assert(viaSql == viaDf, s"$name($s)")
        if (s.isEmpty) assert(viaSql.isEmpty, s"$name(NULL)")
      }
      assert(got.exists(_._2.isDefined), s"$name returned only NULLs")
    }
  }

  test("roman round-trip elimination removes the codec calls and preserves semantics") {
    import graft.functions.F
    import org.apache.spark.sql.functions.col
    // a Range source so constant folding can't pre-evaluate the codec
    val df = spark.range(5).select((col("id") * 1000).cast("int").as("x"))
    def roundTrip = df.select(F.fromRoman(F.toRoman(col("x"))).as("y"))
    val before = roundTrip.queryExecution.optimizedPlan.toString
    assert(before.contains("static_invoke"), "baseline should call the codec")
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = Seq(RomanRoundTripElimination)
    try {
      val after = roundTrip.queryExecution.optimizedPlan.toString
      assert(!after.contains("static_invoke"),
        s"codec calls survived the rewrite:\n$after")
      val got = roundTrip.orderBy("y").as[Option[Int]].collect().toSeq
      assert(got.flatten.sorted == Seq(1000, 2000, 3000) &&
        got.count(_.isEmpty) == 2) // 0 and 4000 are out of codec range
    } finally spark.experimental.extraOptimizations = saved
  }

  test("graft_image_* SQL functions parse headers from binary literals") {
    GraftFunctions.register(spark)
    val png = "89504E470D0A1A0A" + "0000000D" + "49484452" +
      "00000320" + "00000258" + "0806000000" + "DEADBEEF"
    val r = spark.sql(
      s"""SELECT graft_image_format(unhex('$png')) AS f,
         |  graft_image_width(unhex('$png')) AS w,
         |  graft_image_height(unhex('$png')) AS h,
         |  graft_image_format(unhex('00')) AS bad,
         |  graft_image_width(unhex('00')) AS badw
         |""".stripMargin)
      .as[(String, Int, Int, Option[String], Int)].head()
    assert(r == (("png", 800, 600, None, -1)))
  }
}
