package graft

import graft.etl._
import graft.functions.{F, RomanCodec}
import java.sql.{Date, Timestamp}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Unit tests for the relational/ETL operators on hand-computable fixtures. */
class EtlSpec extends SparkSpec {

  import spark.implicits._

  test("dateWindow is half-open [prev-month-start, exec): boundary rows load exactly once") {
    val rows = Seq(
      (1L, Date.valueOf("1995-02-28")),
      (2L, Date.valueOf("1995-03-01")), // exact window start — was lost with strict >
      (3L, Date.valueOf("1995-03-15")),
      (4L, Date.valueOf("1995-04-01")) // exec date — belongs to the NEXT run
    ).toDF("id", "d")
    val got = IncrementalLoad
      .dateWindow(rows, col("d"), lit("1995-04-01").cast("date"), firstRun = false)
      .select("id").as[Long].collect().sorted
    assert(got.toSeq == Seq(2L, 3L))
    val firstRun = IncrementalLoad
      .dateWindow(rows, col("d"), lit("1995-04-01").cast("date"), firstRun = true)
      .select("id").as[Long].collect().sorted
    assert(firstRun.toSeq == Seq(1L, 2L, 3L))
  }

  test("code correction classifies, pads, validates prefixes, and drops invalid") {
    val rows = Seq(
      (1L, "0112345", "9900000"), // valid as-is → Ok
      (2L, null, "0200000"),      // filled from fallback → Matched
      (3L, "991234", "0300000"),  // padded to 0991234, prefix 09 valid → Ok
      (4L, null, null),           // unfillable → Unknown
      (5L, "7712345", "0400000")  // prefix 77 invalid → Unknown2
    ).toDF("id", "code_raw", "fb")
    val out = CodeCorrection
      .classify(rows, col("code_raw"), col("fb"), width = 7, prefixLen = 2,
        validPrefixes = (0 until 40).map(i => f"$i%02d"))
      .select("id", "code", "status").as[(Long, String, String)]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out(1L) == (("0112345", "Ok")))
    assert(out(2L) == (("0200000", "Matched")))
    assert(out(3L) == (("0991234", "Ok")))
    assert(out(4L)._2 == "Unknown")
    assert(out(5L) == (("7712345", "Unknown2")))
    val kept = CodeCorrection
      .dropInvalid(CodeCorrection.classify(rows, col("code_raw"), col("fb"),
        7, 2, (0 until 40).map(i => f"$i%02d")))
      .select("id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 2L, 3L))
  }

  test("classifyWithLookup fills by dim-name containment (MatchedByName)") {
    val dim = Seq(("KRAKOW", "1200000"), ("WARSZAWA", "1400000"))
      .toDF("name", "dcode")
    val rows = Seq(
      (1L, null, null, "gmina Krakow city"),   // → MatchedByName via dim
      (2L, null, "0700000", "gmina Krakow"),   // fallback col wins → Matched
      (3L, null, null, "nowhere special"),     // no containment → Unknown
      (4L, "0112345", null, "gmina Warszawa")  // raw code wins → Ok
    ).toDF("id", "code_raw", "fb", "place")
    val out = CodeCorrection
      .classifyWithLookup(rows, "id", col("code_raw"), col("fb"), col("place"),
        dim, "name", "dcode", width = 7, prefixLen = 2,
        validPrefixes = (0 until 40).map(i => f"$i%02d"))
      .select("id", "code", "status").as[(Long, String, String)]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out(1L) == (("1200000", "MatchedByName")))
    assert(out(2L) == (("0700000", "Matched")))
    assert(out(3L)._2 == "Unknown")
    assert(out(4L) == (("0112345", "Ok")))
  }

  test("DimAlign keepMatched / removeUnmatched / zeroFill") {
    val fact = Seq((1L, "a"), (2L, "b"), (9L, "c")).toDF("k", "v")
    val dim = Seq((1L, "one"), (2L, "two"), (3L, "three")).toDF("dk", "name")
    assert(DimAlign.keepMatched(fact, dim, "k", "dk")
      .select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    assert(DimAlign.removeUnmatched(fact, dim, "k", "dk")
      .select("k").as[Long].collect().toSeq == Seq(9L))
    val agg = Seq((1L, 5L)).toDF("ak", "n")
    val zf = DimAlign.zeroFill(dim, agg, "dk", "ak", Seq("n"))
      .select("dk", "n").as[(Long, Long)].collect().toMap
    assert(zf == Map(1L -> 5L, 2L -> 0L, 3L -> 0L))
  }

  test("schema-align union zero-fills missing columns on either side") {
    val a = Seq((1L, 10.0)).toDF("k", "x")
    val b = Seq((2L, "s")).toDF("k", "y")
    val u = SchemaAlign.unionZeroFill(a, b).orderBy("k").collect()
    assert(u.length == 2)
    val cols = SchemaAlign.unionZeroFill(a, b).columns.toSeq
    assert(cols.contains("x") && cols.contains("y"))
  }

  test("sessionize counts gap-separated sessions per user") {
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val ev = Seq(
      (1L, ts(0), 1L), (1L, ts(5), 2L), (1L, ts(45), 3L), // gap>30m → 2 sessions
      (2L, ts(10), 4L)
    ).toDF("user_id", "ts", "event_id")
    val out = Sessionize.userSessionStats(ev, "user_id", "ts", "event_id",
      gapMs = 1800000L)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out(1L) == ((3L, 2L)))
    assert(out(2L) == ((1L, 1L)))
  }

  test("two-level pivot renames columns through the de-Romanize pass") {
    val rows = Seq(("g1", "A", "I"), ("g1", "A", "I"), ("g1", "B", "II"),
      ("g2", "B", "III")).toDF("g", "t", "cat")
    val out = PivotAggregates.countPivot2(rows, "g", "t", Seq("A", "B"),
      "cat", Seq("I", "II", "III"))
    assert(out.columns.toSet ==
      Set("g", "cnt_A_1", "cnt_A_2", "cnt_A_3", "cnt_B_1", "cnt_B_2", "cnt_B_3"))
    val m = out.collect().map(r => r.getString(0) ->
      (1 until 7).map(r.getLong)).toMap
    assert(m("g1") == Seq(2L, 0L, 0L, 0L, 1L, 0L))
    assert(m("g2") == Seq(0L, 0L, 0L, 0L, 0L, 1L))
  }

  test("two-level pivot keys survive values containing underscores") {
    // the reference's rodzaj_zam_budowlanego values contain '_', so the
    // output names alone are ambiguous (budowa_I + nowy vs budowa +
    // I_nowy); each cell must still count only its own (value1, value2)
    val rows = Seq(("g1", "budowa_nowego", "I"), ("g1", "budowa_nowego", "I"),
      ("g1", "przebudowa", "II")).toDF("g", "t", "cat")
    val out = PivotAggregates.countPivot2(rows, "g", "t",
      Seq("budowa_nowego", "przebudowa"), "cat", Seq("I", "II"))
    assert(out.columns.toSet == Set("g", "cnt_budowa_nowego_1",
      "cnt_budowa_nowego_2", "cnt_przebudowa_1", "cnt_przebudowa_2"))
    val r = out.collect().head
    assert(r.getAs[Long]("cnt_budowa_nowego_1") == 2L)
    assert(r.getAs[Long]("cnt_przebudowa_2") == 1L)
  }

  test("pivots match a SUM(CASE) reference: nulls, unlisted and absent values") {
    val rows = Seq[(String, String, String, Integer)](
      ("g1", "A", "I", 1), ("g1", "A", "I", 1), ("g1", "B", "II", 2),
      ("g1", null, "I", null), ("g1", "A", null, 3), // nulls in either column
      ("g2", "B", "III", 2), ("g2", "Z", "I", 7),    // unlisted value1
      ("g2", "A", "V", 1), (null, "A", "I", 2)       // unlisted roman; null group
    ).toDF("g", "t", "cat", "p")
    rows.createOrReplaceTempView("pivot_src")
    def reference(cells: Seq[(String, String)]): Seq[Row] =
      spark.sql(cells.map { case (cond, name) =>
        s"SUM(CASE WHEN $cond THEN 1 ELSE 0 END) AS `$name`"
      }.mkString("SELECT g, ", ", ", " FROM pivot_src GROUP BY g ORDER BY g"))
        .collect().toSeq
    def check(out: DataFrame, cells: Seq[(String, String)]) = {
      assert(out.columns.toSeq == "g" +: cells.map(_._2))
      out.schema.fields.tail.foreach { f =>
        assert(f.dataType == LongType && !f.nullable, f.toString)
      }
      assert(out.orderBy("g").collect().toSeq == reference(cells))
    }

    // "C" and "IV" occur nowhere in the data: their cells are all 0
    val values1 = Seq("A", "B", "C")
    val romans = Seq("I", "II", "III", "IV")
    check(PivotAggregates.countPivot2(rows, "g", "t", values1, "cat", romans),
      for (a <- values1; (r, i) <- romans.zipWithIndex)
        yield (s"t = '$a' AND cat = '$r'", s"cnt_${a}_${i + 1}"))
    // an int pivot column: the string values are cast to its type
    assert(rows.schema("p").dataType == IntegerType)
    check(PivotAggregates.countPivot(rows, "g", "p", Seq("1", "2", "9")),
      Seq("1", "2", "9").map(v => (s"p = $v", v)))
  }

  test("pivots and zeroFill are one plan step whatever their width") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    def nodes(df: DataFrame, name: String) =
      df.queryExecution.analyzed.collect { case p if p.nodeName == name => p }.size
    val rows = Seq(("g1", "A", "I"), ("g2", "B", "II")).toDF("g", "t", "cat")
    def pivot(nRoman: Int) = PivotAggregates.countPivot2(rows, "g", "t",
      Seq("A", "B", "C"), "cat", (1 to nRoman).map(RomanCodec.toRomanStr))
    val (narrow, wide) = (pivot(3), pivot(30))
    assert(nodes(narrow, "Project") == nodes(wide, "Project"))
    assert(nodes(narrow, "Aggregate") == 1 && nodes(wide, "Aggregate") == 1)
    val plan = wide.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    assert(wide.columns.length == 1 + 3 * 30)

    // the projections zeroFill stacks on its join, however many columns
    val zeroCols = (1 to 270).map(i => s"c$i")
    val agg = Seq(1L).toDF("ak")
      .select(col("ak") +: zeroCols.map(c => lit(1L).as(c)): _*)
    val dim = Seq((1L, "one"), (2L, "two")).toDF("dk", "name")
    val zf = DimAlign.zeroFill(dim, agg, "dk", "ak", zeroCols)
    def projectsAboveJoin(p: LogicalPlan): Int = p match {
      case _: Join => 0
      case q => (if (q.nodeName == "Project") 1 else 0) +
        projectsAboveJoin(q.children.head)
    }
    assert(projectsAboveJoin(zf.queryExecution.analyzed) <= 2)
    assert(zf.columns.toSeq == Seq("dk", "name") ++ zeroCols)
    val got = zf.orderBy("dk").collect()
    assert(got.map(_.getLong(2)).toSeq == Seq(1L, 0L))
  }

  test("ranking top-k breaks ties deterministically") {
    val rows = Seq(("g", 10.0, 2L), ("g", 10.0, 1L), ("g", 5.0, 3L))
      .toDF("g", "score", "id")
    val out = Ranking.topKPerGroup(rows, "g", col("score").desc, col("id").asc, 2)
      .select("rnk", "id").as[(Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 1L), (2L, 2L)))
  }

  test("validator evaluates expectations in one pass and renders JSON") {
    import graft.validation._
    val df = Seq(("a@x.io", 5), ("bad", 50), ("c@y.io", 7))
      .toDF("email", "v")
    val res = Validator.validate(df, Seq(
      MatchRegex("email_format", col("email"), "^[^@]+@[^@]+$", 60),
      Between("v_range", col("v"), 0, 10, 100)))
    val rows = res.as[(String, Long, Long, Int, Boolean)].collect()
      .map(t => t._1 -> ((t._3, t._5))).toMap
    assert(rows("email_format") == ((2L, true)))  // 2/3 ≥ 60%
    assert(rows("v_range") == ((2L, false)))      // 2/3 < 100%
    val json = Validator.renderJson(res)
    assert(json.startsWith("[") && json.contains("email_format"))
  }

  test("validator renders an HTML report with every expectation row and the verdict") {
    import graft.validation._
    val df = Seq(("a@x.io", 5), ("bad", 50), ("c<script>@y.io", 7))
      .toDF("email", "v")
    val res = Validator.validate(df, Seq(
      MatchRegex("email_format", col("email"), "^[^@<>]+@[^@]+$", 60),
      Between("v_range", col("v"), 0, 10, 100),
      NotNull("email_present", col("email"))))
    val html = Validator.renderHtml(res, title = "unit <check>")
    Seq("email_format", "v_range", "email_present").foreach(e =>
      assert(html.contains(s"<td>$e</td>"), s"expectation row $e missing"))
    assert(html.contains("FAILURE"), "v_range fails, page must say FAILURE")
    assert(html.contains("""<tr class="fail">""") &&
      html.contains("""<tr class="pass">"""))
    assert(html.contains("unit &lt;check&gt;") && !html.contains("<check>"),
      "title must be HTML-escaped")
    val allPass = Validator.validate(df,
      Seq(NotNull("email_present", col("email"))))
    assert(Validator.renderHtml(allPass).contains("SUCCESS"))
  }

  test("as-of join picks the latest version at or before each fact timestamp") {
    def ts(s: String) = Timestamp.valueOf(s + " 00:00:00")
    val dim = Seq(
      (1L, ts("2024-01-01"), "v1"), (1L, ts("2024-03-01"), "v2"),
      (2L, ts("2024-02-01"), "w1")).toDF("k", "eff", "tier")
    val fact = Seq(
      (1L, ts("2024-02-15"), 10.0), // between v1 and v2 → v1
      (1L, ts("2024-03-01"), 20.0), // exactly at v2 → v2 (>= semantics)
      (1L, ts("2024-06-01"), 30.0), // after v2 → v2
      (2L, ts("2024-01-15"), 40.0)  // before any version → null
    ).toDF("k", "ots", "amt")
    val out = AsOfJoin.latest(fact, dim, "k", col("ots"), col("eff"), Seq("tier"))
      .select("amt", "tier").as[(Double, Option[String])].collect().toMap
    assert(out(10.0).contains("v1"))
    assert(out(20.0).contains("v2"))
    assert(out(30.0).contains("v2"))
    assert(out(40.0).isEmpty)
  }

  test("binned range join equals the naive inequality join") {
    val fact = (0 until 200).map(i => (i.toLong, i * 7.0 % 500)).toDF("id", "p")
    val iv = Seq((1L, 0.0, 100.0), (2L, 50.0, 300.0), (3L, 450.0, 500.0))
      .toDF("iv_id", "lo", "hi")
    val binned = RangeJoin
      .pointInInterval(fact, iv, col("p"), col("lo"), col("hi"), binWidth = 64L)
      .select("id", "iv_id").as[(Long, Long)].collect().toSet
    val naive = fact.join(iv, col("p") >= col("lo") && col("p") < col("hi"))
      .select("id", "iv_id").as[(Long, Long)].collect().toSet
    assert(binned == naive && naive.nonEmpty)
  }

  test("fuzzy join via q-gram blocking equals the naive all-pairs edit-distance join") {
    val left = Seq((1L, "johnson"), (2L, "johnsen"), (3L, "smithers"),
      (4L, "completely-different")).toDF("lid", "name")
    val right = Seq((10L, "jonson"), (11L, "smithers"), (12L, "zzzzzz"))
      .toDF("rid", "name")
    val blocked = FuzzyJoin.byEditDistance(left, "lid", col("name"),
      right, "rid", col("name"), maxDist = 2)
      .select("l_id", "r_id", "dist").as[(Long, Long, Long)].collect().toSet
    val naive = left.crossJoin(right.withColumnRenamed("name", "rname"))
      .where(levenshtein(lower(col("name")), lower(col("rname"))) <= 2)
      .select(col("lid"), col("rid"),
        levenshtein(lower(col("name")), lower(col("rname"))).cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(blocked == naive, s"blocked=$blocked naive=$naive")
    assert(blocked.contains((1L, 10L, 1L)) && blocked.contains((3L, 11L, 0L)))
  }

  test("salted skew join equals the plain join") {
    val fact = (1L to 300L).map(i => (i, if (i % 10 == 0) 1L else i % 7, i * 1.5))
      .toDF("id", "k", "v") // key 1 is hot
    val dim = (0L to 9L).map(i => (i, s"name$i")).toDF("dk", "name")
    val plain = fact.join(dim, col("k") === col("dk"))
      .groupBy("name").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    val salted = SkewJoin.salted(fact, dim, "k", "dk", col("id"), buckets = 4)
      .groupBy("name").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(salted == plain)
  }

  test("profiler computes per-column stats in one pass; approx tracks exact") {
    import graft.validation.Profiler
    val df = Seq((1L, "a"), (2L, "b"), (2L, null), (3L, "a")).toDF("k", "s")
    val p = Profiler.profile(df, Seq("k", "s"))
      .as[(String, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(p("k") == (("k", 4L, 4L, 3L, "1", "3")))
    assert(p("s") == (("s", 4L, 3L, 2L, "a", "b")))
    val a = Profiler.approxProfile(df, Seq("k"))
      .as[(String, Long, Long)].collect().head
    assert(math.abs(a._3 - 3L) <= 1)
  }

  test("deterministic sampling: stable membership, disjoint splits, sane rates") {
    val ids = (1L to 10000L).map(i => (i, s"row$i")).toDF("id", "v")
    val s1 = Sampling.sample(ids, "id", basisPoints = 2000)
      .select("id").as[Long].collect().toSet
    val s2 = Sampling.sample(ids, "id", basisPoints = 2000)
      .select("id").as[Long].collect().toSet
    assert(s1 == s2, "sample membership must be a pure function of id")
    assert(math.abs(s1.size - 2000) < 300, s"rate off: ${s1.size}")
    val sOther = Sampling.sample(ids, "id", 2000, seed = 7L)
      .select("id").as[Long].collect().toSet
    assert(sOther != s1, "different seeds must draw different samples")
    val sp = Sampling.split(ids, "id", Seq(9000, 500, 500))
      .groupBy("split_id").count().as[(Long, Long)].collect().toMap
    assert(sp.keySet == Set(0L, 1L, 2L))
    assert(sp.values.sum == 10000L, "splits must cover every row exactly once")
    assert(math.abs(sp(0L) - 9000) < 300 && math.abs(sp(1L) - 500) < 150)
  }

  test("stratified sampling applies per-stratum rates deterministically") {
    val rows = (1L to 4000L).map(i => (i, if (i % 2 == 0) "big" else "rare"))
      .toDF("id", "cls")
    val out = Sampling.stratified(rows, "id", col("cls"),
      Map("big" -> 1000), defaultBp = 10000)
    val counts = out.groupBy("cls").count().as[(String, Long)].collect().toMap
    assert(counts("rare") == 2000L, "unmapped strata must use the default rate")
    assert(math.abs(counts("big") - 200L) < 80, s"big: ${counts("big")}")
    assert(out.collect().toSeq == Sampling.stratified(rows, "id", col("cls"),
      Map("big" -> 1000), defaultBp = 10000).collect().toSeq)
  }

  test("epoch shuffle permutes deterministically per epoch") {
    val ids = (1L to 500L).map(i => (i, i)).toDF("id", "v")
    val e1a = Sampling.epochShuffle(ids, "id", 1L).select("id").as[Long].collect().toSeq
    val e1b = Sampling.epochShuffle(ids, "id", 1L).select("id").as[Long].collect().toSeq
    val e2 = Sampling.epochShuffle(ids, "id", 2L).select("id").as[Long].collect().toSeq
    assert(e1a == e1b, "same epoch must reproduce the same order")
    assert(e1a != e2, "different epochs must reshuffle")
    assert(e1a.sorted == e2.sorted, "shuffle must preserve the multiset")
    assert(e1a != (1L to 500L).toSeq, "shuffle must not be the identity")
  }

  test("json extraction with explicit schema nulls malformed payloads") {
    import org.apache.spark.sql.types._
    val df = Seq((1L, """{"k": 5}"""), (2L, "not json"), (3L, """{"x": 1}"""))
      .toDF("id", "props")
    val out = df.select(col("id"),
      from_json(col("props"), StructType(Seq(StructField("k", LongType))))
        .getField("k").as("k"))
      .as[(Long, Option[Long])].collect().toMap
    assert(out(1L).contains(5L))
    assert(out(2L).isEmpty && out(3L).isEmpty)
  }

  test("text cleaning chain strips tags, redacts emails, collapses whitespace") {
    import graft.functions.TextClean
    val df = Seq((1L, "<b>Hi</b>  mail me at a.b+c@site-x.example.org   now"))
      .toDF("id", "t")
    val out = df.select(TextClean.cleanChain(col("t")).as("c"))
      .as[String].head()
    assert(out == "Hi mail me at <EMAIL> now", s"got '$out'")
    val nfc = df.select(F.nfc(lit("é"))).as[String].head()
    assert(nfc == "é", "combining acute must compose to é")
  }

  test("perplexity scores rare-token docs above stereotypical docs, deterministically") {
    import graft.functions.Perplexity
    val docs = (
      (1L to 20L).map(i => (i, "the quick brown fox jumps over the lazy dog")) :+
        (100L, "zxqj vvkp wwrt uuio ppas ddfg hhjk llqw eerr ttyy")
      ).toDF("doc_id", "text")
    val out = Perplexity.score(docs, "doc_id", "text")
      .select("doc_id", "avg_nll_x1000").as[(Long, Long)].collect().toMap
    assert(out(100L) > out(1L), "rare-token doc must score higher perplexity")
    assert(out(1L) == out(20L), "identical docs must score identically")
    val again = Perplexity.score(docs.repartition(7), "doc_id", "text")
      .select("doc_id", "avg_nll_x1000").as[(Long, Long)].collect().toMap
    assert(again == out, "scores must be partitioning-independent")
  }

  test("bigram LM scores in-domain text below out-of-domain, hand-checked") {
    import graft.functions.Perplexity
    val train = Seq((1L, "the cat sat"), (2L, "the cat ran")).toDF("doc_id", "text")
    val score = Seq(
      (10L, "the cat sat"),      // every bigram seen
      (11L, "sat the cat"),      // "sat the" unseen, rest seen
      (12L, "dog ate cheese"),   // nothing seen: uniform 1/V floor
      (13L, "solo"),             // one token: no bigram evidence → dropped
      (14L, "")                  // tokenizes to [""]: dropped too
    ).toDF("doc_id", "text")
    val out = Perplexity.bigramScore(train, score, "doc_id", "text")
      .select("doc_id", "n_bigrams", "avg_nll_x1000")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out.keySet == Set(10L, 11L, 12L), s"got ${out.keySet}")
    assert(out(10L)._2 == 2 && out(11L)._2 == 2 && out(12L)._2 == 2)
    // V = |{the,cat,sat,ran}| = 4.
    // c1(the)=2, c2(the cat)=2 → P(cat|the)=(2+1)/(2+4)=1/2;
    // c1(cat)=2, c2(cat sat)=1 → P(sat|cat)=(1+1)/(2+4)=1/3.
    // doc10 mean NLL = (ln2 + ln3)/2 = 0.8958... → 895
    assert(out(10L)._3 == 895L, s"hand-computed 895, got ${out(10L)._3}")
    // unseen everything: per-bigram P = 1/V = 1/4 → mean NLL = ln4 → 1386
    assert(out(12L)._3 == 1386L, s"uniform floor ln(4)≈1386, got ${out(12L)._3}")
    assert(out(10L)._3 < out(11L)._3 && out(11L)._3 < out(12L)._3,
      "in-domain must score below partially/fully out-of-domain")
    val again = Perplexity.bigramScore(
      train.repartition(3), score.repartition(5), "doc_id", "text")
      .select("doc_id", "n_bigrams", "avg_nll_x1000")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(again == out, "scores must be partitioning-independent")
    val bcast = Perplexity.bigramScore(train, score, "doc_id", "text",
      broadcastLm = true)
      .select("doc_id", "n_bigrams", "avg_nll_x1000")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(bcast == out, "broadcast and shuffle paths must agree")
  }

  test("stupid backoff walks the tri→bi→uni ladder with hand-checked scores") {
    import graft.functions.Perplexity
    // train "a b c a b d": c1 a=2 b=2 c=1 d=1 (N=6, V=4);
    // c2 ab=2 bc=1 ca=1 bd=1; c3 abc/bca/cab/abd = 1 each
    val train = Seq((1L, "a b c a b d")).toDF("doc_id", "text")
    val score = Seq(
      (10L, "a b c"),    // trigram hit: S = 1/c2(ab) = 1/2
      (11L, "x b c y"),  // xbc → bigram backoff 0.4·c2(bc)/c1(b) = 0.2;
                         // bcy → unigram floor 0.16·(0+1)/(6+4) = 0.016
      (12L, "a b")       // no trigram → dropped
    ).toDF("doc_id", "text")
    val out = Perplexity.stupidBackoffScore(train, score, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.keySet == Set(10L, 11L))
    val a = out(10L)
    assert(a.getAs[Long]("n_trigrams") == 1 &&
      a.getAs[Long]("n_tri_hits") == 1)
    // -ln(1/2) = 0.693147181 quantized → sum 693, avg 693
    assert(a.getAs[Long]("sum_nll_x1000") == 693L &&
      a.getAs[Long]("avg_nll_x1000") == 693L, s"got $a")
    val b = out(11L)
    assert(b.getAs[Long]("n_tri_hits") == 0 &&
      b.getAs[Long]("n_bi_backoffs") == 1 &&
      b.getAs[Long]("n_uni_backoffs") == 1)
    // -ln(0.2) + -ln(0.016) = 1.609437912 + 4.135166557 → 5744; /2 → 2872
    assert(b.getAs[Long]("sum_nll_x1000") == 5744L &&
      b.getAs[Long]("avg_nll_x1000") == 2872L, s"got $b")
    // broadcast and shuffle LM paths agree
    val bcast = Perplexity.stupidBackoffScore(train, score, "doc_id",
      "text", broadcastLm = true)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("sum_nll_x1000")).toMap
    assert(bcast == out.map { case (k, r) =>
      k -> r.getAs[Long]("sum_nll_x1000") })
  }

  test("Gopher rule battery: hand-checked counters and verdicts") {
    import graft.functions.GopherRules
    // 63 words, mean word length 231/63 ≈ 3.7 — inside every bound
    val good = ("the be to of and that have with wonderful " * 7).trim
    val docs = Seq(
      (1L, good),                        // passes everything
      (2L, "- bullet\n- bullet2\nplain..."),
      (3L, ""),                          // degenerate: 1 empty token
      (4L, "#### ## # zz"),              // symbol-heavy
      (5L, "… zz … zz …")                // Unicode-ellipsis-heavy
    ).toDF("doc_id", "text")
    val out = GopherRules.evaluate(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Boolean]("pass"), "stereotypical doc must pass")
    assert(out(1L).getAs[Long]("n_words") == 63)
    assert(out(1L).getAs[Long]("n_stop_hits") == 8)
    val b = out(2L)
    assert(b.getAs[Long]("n_words") == 5 && b.getAs[Long]("word_chars") == 23)
    assert(b.getAs[Long]("n_lines") == 3 && b.getAs[Long]("n_bullet_lines") == 2)
    assert(b.getAs[Long]("n_ellipsis_lines") == 1 && b.getAs[Long]("n_symbols") == 1)
    assert(!b.getAs[Boolean]("r_ellipsis"), "1 of 3 lines ellipsis-ended > 30%")
    assert(b.getAs[Boolean]("r_bullet"), "2 of 3 bullet lines is under 90%")
    assert(!b.getAs[Boolean]("pass"))
    val e = out(3L)
    assert(e.getAs[Long]("n_words") == 1 && e.getAs[Long]("word_chars") == 0)
    assert(!e.getAs[Boolean]("r_mean_len") && !e.getAs[Boolean]("pass"))
    val s4 = out(4L)
    assert(s4.getAs[Long]("n_symbols") == 7)
    assert(!s4.getAs[Boolean]("r_symbol_ratio"))
    // the Unicode ellipsis counts in n_symbols too (the line-end rule
    // already treats it as an ellipsis): 3 symbols over 5 words trips
    // the 10·symbols < words ratio exactly like ASCII '...' would
    val s5 = out(5L)
    assert(s5.getAs[Long]("n_symbols") == 3)
    assert(!s5.getAs[Boolean]("r_symbol_ratio"))
  }

  test("gopherSymbolCount kernel == the three markerCounts, char for char") {
    import graft.functions.TextStats
    // run-boundary dots, ellipsis at string end, markers adjacent to
    // multi-byte chars, a lone partial 0xE2 lead byte via 'â' text
    val cases = Seq(
      "", ".", "..", "...", "....", ".....", "......", "a...b..c.",
      "#", "##.#", "…", "……", "text…", "…...", "...…", "# . …",
      "naïve… done...", "â€¦ is not …", "dots.at.ends...", "...")
    val df = cases.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("i", "t")
    val got = df.select(col("i"),
        TextStats.gopherSymbolCount(col("t")).as("k"),
        (TextStats.markerCount(col("t"), "#") +
          TextStats.markerCount(col("t"), "...") +
          TextStats.markerCount(col("t"), "…")).as("m"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"kernel diverged on case ${cases(r.getLong(0).toInt)}: " +
          s"${r.getLong(1)} vs ${r.getLong(2)}")
    }
    // null propagates
    val n = Seq((1L, null: String)).toDF("i", "t")
      .select(TextStats.gopherSymbolCount(col("t"))).collect()
    assert(n.head.isNullAt(0))
  }

  test("C4 filter battery: line predicate and page gates, hand-checked") {
    import graft.functions.C4Filters
    val docs = Seq(
      // 3 kept lines (terminal punct + >=5 words), 7 sentence marks
      (1L, "This is a good first sentence.\nAnd here is another one!\nIs this a third question? Yes... it is.\nshort line.\nno terminal punct here at all"),
      // javascript line dropped even though otherwise keepable
      (2L, "Please enable JavaScript to view this page.\nA normal line that stays right here."),
      // page gates: curly brace and lorem ipsum
      (3L, "function f() { return 1; } is code.\nSecond sentence goes right here now.\nThird sentence goes right here now."),
      (4L, "Lorem Ipsum dolor sit amet, consectetur adipiscing elit.\nSecond sentence goes right here now.\nThird sentence goes right here now."),
      (5L, "")
    ).toDF("doc_id", "text")
    val out = C4Filters.evaluate(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val a = out(1L)
    assert(a.getAs[Long]("n_lines") == 5 && a.getAs[Long]("n_kept_lines") == 3)
    assert(a.getAs[Long]("n_sentences") == 7,
      s"got ${a.getAs[Long]("n_sentences")}")
    assert(a.getAs[Boolean]("keep"))
    val b = out(2L)
    assert(b.getAs[Long]("n_js_lines") == 1 && b.getAs[Long]("n_kept_lines") == 1)
    assert(!b.getAs[Boolean]("keep"), "one kept sentence is under 3")
    assert(out(3L).getAs[Boolean]("has_curly") && !out(3L).getAs[Boolean]("keep"))
    assert(out(4L).getAs[Boolean]("has_lorem") && !out(4L).getAs[Boolean]("keep"))
    val e = out(5L)
    assert(e.getAs[Long]("n_lines") == 1 && e.getAs[Long]("n_kept_lines") == 0 &&
      e.getAs[Long]("kept_chars") == 0 && !e.getAs[Boolean]("keep"))
  }

  test("temperature mixing up-weights tail languages and conserves mass") {
    val docs = ((1L to 8L).map(i => (i, "en")) ++ Seq((9L, "de"), (10L, "fr")))
      .toDF("doc_id", "lang").withColumn("text", lit("x"))
      .withColumn("source", lit("s"))
    // reuse the real entry logic on a scratch dir-shaped frame: inline it
    import org.apache.spark.sql.types.DecimalType
    val per = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val tot = per.agg(sum(col("n_docs")).as("n_total"))
    val q = per.crossJoin(broadcast(tot))
      .withColumn("q_x1e9",
        floor(pow(col("n_docs").cast("double") / col("n_total").cast("double"),
          lit(0.7)).cast(DecimalType(18, 9)) * 1000000000L).cast("long"))
    val qt = q.agg(sum(col("q_x1e9")).as("q_total"))
    val out = q.crossJoin(broadcast(qt))
      .select(col("lang"), col("n_docs"), col("q_x1e9"),
        floor(col("q_x1e9") * 1000000L / col("q_total").cast("double"))
          .cast("long").as("w_ppm"))
      .collect().map(r => r.getAs[String]("lang") -> r).toMap
    val (en, de, fr) = (out("en"), out("de"), out("fr"))
    // raw shares: en 800000 ppm, de/fr 100000 ppm each. alpha=0.7 must
    // pull the head DOWN and the tail UP, identically for equal tails.
    assert(en.getAs[Long]("w_ppm") < 800000L, "head language must down-weight")
    assert(de.getAs[Long]("w_ppm") > 100000L, "tail language must up-weight")
    assert(de.getAs[Long]("w_ppm") == fr.getAs[Long]("w_ppm"))
    val mass = out.values.map(_.getAs[Long]("w_ppm")).sum
    assert(mass <= 1000000L && mass >= 1000000L - 3,
      s"floor normalization must conserve mass up to per-row floor loss, got $mass")
  }

  test("unimax waterfill: tails run the cap, the head splits the rest") {
    // corpora: a 2, b 3, c 20 tokens (single docs, whitespace tokens);
    // budget = (25*8000) div 10000 = 20, cap = 1 epoch. Waterfill: a
    // capped? 2*3=6 < 20 yes; b: 3*2=6 < 18 yes; c: 20*1=20 < 15 no ->
    // c gets all 15. Sum of allocations == budget exactly.
    val docs = Seq(
      ("a", "t t"), ("b", "t t t"),
      ("c", (1 to 20).map(_ => "t").mkString(" "))).toDF("lang", "text")
    val out = UniMax.allocate(docs, "lang", "text", budgetBp = 8000,
        epochCap = 1)
      .collect().map(r => r.getAs[String]("lang") -> r).toMap
    assert(out("a").getAs[Boolean]("capped") &&
      out("a").getAs[Long]("alloc_tokens") == 2L &&
      out("a").getAs[Long]("epochs_x1000") == 1000L)
    assert(out("b").getAs[Long]("alloc_tokens") == 3L)
    assert(!out("c").getAs[Boolean]("capped") &&
      out("c").getAs[Long]("alloc_tokens") == 15L &&
      out("c").getAs[Long]("epochs_x1000") == 750L)
    assert(out.values.map(_.getAs[Long]("alloc_tokens")).sum == 20L)
  }

  test("unimax remainder goes to the smallest uncapped languages") {
    // equal corpora of 10, budget = (30*9000) div 10000 = 27: nobody
    // capped (10*3=30 >= 27), share 9, rem 0 -> 9 each. With budget 29
    // ((30*9667) div 10000): share 9 rem 2 -> the two rank-first
    // languages get 10, the last 9; still sums to budget.
    val ten = (1 to 10).map(_ => "t").mkString(" ")
    val docs = Seq(("a", ten), ("b", ten), ("c", ten)).toDF("lang", "text")
    val even = UniMax.allocate(docs, "lang", "text", 9000, 1)
      .collect().map(r => r.getAs[String]("lang") -> r.getAs[Long]("alloc_tokens")).toMap
    assert(even == Map("a" -> 9L, "b" -> 9L, "c" -> 9L))
    val odd = UniMax.allocate(docs, "lang", "text", 9667, 1)
      .collect().map(r => r.getAs[String]("lang") -> r.getAs[Long]("alloc_tokens")).toMap
    assert(odd == Map("a" -> 10L, "b" -> 10L, "c" -> 9L))
    assert(odd.values.sum == 29L)
  }

  test("unimax all-capped: epoch caps bind and leftover budget is unspent") {
    // two 5-token corpora, epochCap 2, budget = 10*3 = 30 > 2*10: every
    // language runs exactly its cap and 10 tokens stay unallocated
    val five = (1 to 5).map(_ => "t").mkString(" ")
    val docs = Seq(("a", five), ("b", five)).toDF("lang", "text")
    val out = UniMax.allocate(docs, "lang", "text", 30000, 2)
      .collect().map(r => r.getAs[String]("lang") -> r).toMap
    assert(out.values.forall(_.getAs[Boolean]("capped")))
    assert(out.values.forall(_.getAs[Long]("alloc_tokens") == 10L))
    assert(out.values.forall(_.getAs[Long]("epochs_x1000") == 2000L))
  }

  test("diversity metrics flag repetitive text") {
    import graft.functions.Diversity
    val df = Seq(
      (1L, "spam spam spam spam spam"),
      (2L, "all tokens here are different")).toDF("doc_id", "text")
    val m = Diversity.metrics(df, "doc_id", "text")
      .select("doc_id", "n_tokens", "n_distinct", "diversity_pct", "dominance_pct")
      .as[(Long, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(m(1L) == ((1L, 5L, 1L, 20L, 100L)))
    assert(m(2L) == ((2L, 5L, 5L, 100L, 20L)))
  }

  test("F.hash64 and F.dot are usable as column functions") {
    val df = Seq(("abc", Array(1f, 2f), Array(3f, 4f))).toDF("s", "a", "b")
    val r = df.select(F.hash64(col("s")).as("h"), F.dot(col("a"), col("b")).as("d"))
      .as[(Long, Double)].head()
    assert(r._2 == 11.0)
    assert(r._1 != 0L)
  }
}
