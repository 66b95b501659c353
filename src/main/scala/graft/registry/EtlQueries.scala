package graft
package registry

import graft.etl._
import graft.functions.{F, RomanCodec}
import graft.sources.GraftCsv
import graft.validation._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Relational and ETL queries: the reference pipeline's pivots, windows,
  * joins, validation and code cleansing, the CSV/ZIP/shapefile sources,
  * the partitioned sink, and the warehouse extensions (SCD, CDC, cubes,
  * sampling over relational tables).
  */
private[graft] object EtlQueries {
  import Shared._

  private def dec2(c: Column) = c.cast(DecimalType(18, 2))

  /** Exact (order-independent) 2-dp sum surfaced as double. */
  private def xsum(c: Column) = F.exactSum2(c)

  private val validCodePrefixes: Seq[String] = (0 until 40).map(i => f"$i%02d")

  private def eventsWithCodes(t: Tables): DataFrame =
    t.events
      .withColumn("base", regexp_extract(col("props"), "[0-9]+", 0))
      .withColumn("raw0",
        when(col("base").cast("int") % 7 === 0, lit(null).cast("string"))
          .otherwise(concat(lpad(col("base"), 2, "0"),
            lpad((col("user_id") % 100000).cast("string"), 5, "0"))))
      .withColumn("rawc",
        when(col("raw0").isNull, lit(null).cast("string"))
          .when(col("event_type") === "click", substring(col("raw0"), 2, 6))
          .otherwise(col("raw0")))
      .withColumn("fb",
        concat(lpad((col("event_id") % 100).cast("string"), 2, "0"), lit("00000")))

  private val eventExpectations: Seq[Expectation] = Seq(
    MatchRegex("props_format", col("props"), "^\\{\"k\": [0-9]+\\}$", 100),
    InSet("event_type_in_set", col("event_type"),
      Seq("click", "view", "purchase", "signup", "error"), 100),
    Between("value_range", col("value"), 0.0, 500.0, 100),
    NotNull("ts_not_null", col("ts"), 100),
    Between("user_id_low", col("user_id"), 0L, 99L, 50),
    Unique("event_id_unique", col("event_id"), 100))

  private def sinkFixture(s: SparkSession, dir: String): String =
    memoized(s, s"sink|$dir") {
      val path = tempDirCleanedAtExit("graft_sink_orders")
      PartitionedSink.writeMonthly(Tables(s, dir).orders, "o_orderdate",
        "o_custkey", path)
      path
    }

  /** '#'-delimited CSV fixture derived deterministically from `orders`:
    * every 97th orderkey gets a malformed date so the errors→null coercion
    * path is actually exercised (and oracle-checkable from the parquet).
    */
  private def csvFixture(s: SparkSession, dir: String): String =
    memoized(s, s"csv|$dir") {
      val path = tempDirCleanedAtExit("graft_csv_orders")
      Tables(s, dir).orders
        .select(col("o_orderkey"), col("o_orderstatus"),
          when(col("o_orderkey") % 97 === 0, lit("not-a-date"))
            .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"))
            .as("o_orderdate"),
          col("o_totalprice"))
        .write.mode("overwrite").option("delimiter", "#").csv(path)
      path
    }

  private val csvOrdersSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_orderdate", StringType), // coerced to timestamp post-scan
    StructField("o_totalprice", DoubleType)))

  /** ZIP archive over the q28 CSV fixture — the reference's actual wire
    * format (a downloaded ZIP containing the delimiter-CSV). Same rows as
    * q28, so q59 shares its oracle.
    */
  private def zipFixture(s: SparkSession, dir: String): String =
    memoized(s, s"zip|$dir") {
      val csvDir = new java.io.File(csvFixture(s, dir))
      val path = tempDirCleanedAtExit("graft_zip_orders")
      val zip = new java.util.zip.ZipOutputStream(
        new java.io.FileOutputStream(new java.io.File(path, "orders.zip")))
      csvDir.listFiles().filter(_.getName.endsWith(".csv")).sortBy(_.getName)
        .foreach { f =>
          zip.putNextEntry(new java.util.zip.ZipEntry(f.getName))
          java.nio.file.Files.copy(f.toPath, zip)
          zip.closeEntry()
        }
      zip.close()
      path
    }

  /** q29 fixture: customers classified into code-cleanse cases by
    * c_custkey mod 10 — raw code present (valid / bad prefix / one digit
    * short), fallback-column fill, name-containment lookup against the
    * nation dim, and unmatchable. Mirrors the reference's terc cases.
    */
  private def lookupFixture(t: Tables): DataFrame =
    t.customer
      .join(broadcast(t.nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(
        col("c_custkey"), col("n_name"),
        when(col("c_custkey") % 5 === 0,
          concat(lit("area of "), col("n_name"), lit(" province")))
          .otherwise(lit("nowhere")).as("place"),
        when(col("c_custkey") % 5 === 0 || col("c_custkey") % 5 === 1,
          lit(null).cast("string"))
          .when(col("c_custkey") % 5 === 3,
            concat(lit("77"),
              lpad((col("c_custkey") % 1000).cast("string"), 5, "0")))
          .when(col("c_custkey") % 5 === 4,
            concat(lpad((col("c_custkey") % 40).cast("string"), 2, "0"),
              lit("1234")))
          .otherwise(concat(lpad((col("c_custkey") % 40).cast("string"), 2, "0"),
            lit("12345"))).as("rawcode"),
        when(col("c_custkey") % 10 === 1, lit("0555555")).as("fb"))

  /** q60 fixtures: an 8-vertex star polygon per nation (integer vertices —
    * fixed compass directions, per-(nation, k) radius, so some rings are
    * non-convex) and customer points scattered in a box around their
    * nation's center. Everything is integer arithmetic on table columns,
    * so a pure-SQL DuckDB oracle reproduces the ray cast bit-for-bit.
    */
  private val polyDirs = Seq((1, 0), (1, 1), (0, 1), (-1, 1), (-1, 0),
    (-1, -1), (0, -1), (1, -1))

  private def polygonFixture(t: Tables): DataFrame = {
    val nk = col("n_nationkey").cast("long")
    val verts = array(polyDirs.zipWithIndex.map { case ((dx, dy), k) =>
      val r = lit(50L) + (nk * 7 + k * 13) % 30
      struct((nk * 1000 + r * dx).as("x"), (nk * 500 + r * dy).as("y"))
    }: _*)
    t.nation.select(nk.as("poly_id"), verts.as("vertices"))
  }

  private def pointFixture(t: Tables): DataFrame =
    t.customer.select(col("c_custkey").as("pt_id"),
      (col("c_nationkey").cast("long") * 1000 +
        col("c_custkey") * 37 % 200 - 100).as("px"),
      (col("c_nationkey").cast("long") * 500 +
        col("c_custkey") * 53 % 200 - 100).as("py"))

  /** Deterministic slowly-changing-dim fixture for q39: three dated tier
    * versions per customer (1993/1995-02-15/1996), tier value derived from
    * the key and version.
    */
  private def scdFixture(t: Tables): DataFrame =
    t.customer.select(col("c_custkey").as("o_custkey"),
      posexplode(array(lit("1993-01-01"), lit("1995-02-15"), lit("1996-01-01")))
        .as(Seq("ver", "eff")))
      .select(col("o_custkey"),
        col("eff").cast("timestamp").as("eff_date"),
        (col("o_custkey") % 5 * 10 + col("ver")).cast("long").as("tier"))

  /** q61 CDC fixture: a deterministic I/U/D changelog over the customer
    * snapshot — keyed cases by c_custkey mod 4: two ordered updates (the
    * later must win), a delete, a single update, and an insert of a brand
    * new key. Exercises every CdcMerge path incl. seq ordering.
    */
  private def cdcFixture(t: Tables): DataFrame = {
    val m = col("c_custkey") % 4
    def row(key: Column, seq: Long, op: String, seg: Column) =
      struct(key.cast("long").as("c_custkey"), lit(seq).as("seq"),
        lit(op).as("op"), seg.cast("string").as("c_mktsegment"))
    t.customer.select(col("c_custkey"),
        explode(array(
          when(m === 1, row(col("c_custkey"), 1L, "U", lit("UPGRADED"))),
          when(m === 1, row(col("c_custkey"), 2L, "U", lit("FINAL"))),
          when(m === 2, row(col("c_custkey"), 1L, "D", lit(null))),
          when(m === 3, row(col("c_custkey"), 1L, "U", lit("TOUCHED"))),
          when(m === 0, row(col("c_custkey") + 10000000L, 1L, "I",
            lit("NEWSEG"))))).as("r"))
      .where(col("r").isNotNull)
      .select(col("r.c_custkey").as("c_custkey"), col("r.seq").as("seq"),
        col("r.op").as("op"), col("r.c_mktsegment").as("c_mktsegment"))
  }

  /** Fixed price bands for q40 (overlapping on purpose — a point can land
    * in the wide band and a narrow one).
    */
  private def priceBands(s: SparkSession): DataFrame = {
    import s.implicits._
    ((0 until 12).map(i => (i.toLong, i * 50000.0, (i + 1) * 50000.0)) :+
      ((100L, 100000.0, 400000.0)))
      .toDF("band_id", "band_lo", "band_hi")
  }

  private def romanCase(inCol: String): String =
    (1 to 30)
      .map(i => s"WHEN $i THEN '${RomanCodec.toRomanStr(i)}'")
      .mkString(s"CASE $inCol ", " ", " END")

  private def expectationOracle(name: String, cond: String, pct: Int) =
    s"""SELECT '$name' AS expectation, COUNT(*) AS n_rows,
       | COUNT(*) FILTER (WHERE $cond) AS n_pass, $pct AS mostly_pct,
       | (COUNT(*) FILTER (WHERE $cond) * 100 >= $pct * COUNT(*)) AS success
       |FROM events""".stripMargin

  val all: Seq[QueryDef] = Seq(
    // 1. grouped aggregation (TPC-H Q1 shape). sum_disc_price multiplies in
    // DECIMAL on both sides — a double product cast to decimal rounds
    // differently across engines (VERDICT r1's one red row).
    QueryDef("q1_agg", (s, dir) => {
      val li = Tables(s, dir).lineitem
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          xsum(col("l_quantity")).as("sum_qty"),
          xsum(col("l_extendedprice")).as("sum_base_price"),
          sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          (sum(dec2(col("l_quantity"))).cast("double") / count(lit(1)))
            .as("avg_qty"),
          count(lit(1)).as("count_order"))
    },
      oracle = Some("""SELECT l_returnflag, l_linestatus,
          | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
          | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
          | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
          | COUNT(*) AS count_order
          |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    // 2. incremental date-window filter (previous-month window mode,
    // half-open [start, exec))
    QueryDef("q2_date_window", (s, dir) => {
      val o = Tables(s, dir).orders
      IncrementalLoad
        .dateWindow(o, col("o_orderdate"), lit("1995-04-01").cast("date"),
          firstRun = false)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    },
      oracle = Some("""SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice FROM orders
          |WHERE o_orderdate >= TIMESTAMP '1995-03-01' AND o_orderdate < TIMESTAMP '1995-04-01'""".stripMargin)),

    // 3. star-schema enrich with broadcast dims
    QueryDef("q3_star_join", (s, dir) => {
      val t = Tables(s, dir)
      StarJoin
        .enrich(t.orders, Seq(
          t.customer.select("c_custkey", "c_nationkey") -> (col("o_custkey") === col("c_custkey")),
          t.nation.select("n_nationkey", "n_regionkey") -> (col("c_nationkey") === col("n_nationkey")),
          t.region -> (col("n_regionkey") === col("r_regionkey"))))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_orders"), xsum(col("o_totalprice")).as("revenue"))
    },
      oracle = Some("""SELECT r_name, COUNT(*) AS n_orders,
          | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
          |FROM orders JOIN customer ON o_custkey = c_custkey
          | JOIN nation ON c_nationkey = n_nationkey
          | JOIN region ON n_regionkey = r_regionkey
          |GROUP BY r_name""".stripMargin)),

    // 4. pivot counts with explicit pivot values
    QueryDef("q4_pivot", (s, dir) =>
      PivotAggregates.countPivot(Tables(s, dir).orders, "o_orderpriority",
        "o_orderstatus", Seq("O", "F", "P")),
      oracle = Some("""SELECT o_orderpriority,
          | COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
          | COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
          | COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
          |FROM orders GROUP BY o_orderpriority""".stripMargin)),

    // 5. 3m/2m/1m window counts in one pass
    QueryDef("q5_multiwindow", (s, dir) => {
      val t = Tables(s, dir)
      val oc = t.orders
        .join(broadcast(t.customer.select("c_custkey", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.nation.select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
      WindowedCounts.monthWindowCounts(oc, col("o_orderdate"),
        lit("1995-04-01").cast("date"), Seq(3, 2, 1), Seq("n_name"))
    },
      oracle = Some("""SELECT n_name,
          | COUNT(*) FILTER (WHERE o_orderdate >= TIMESTAMP '1995-01-01') AS cnt_3m,
          | COUNT(*) FILTER (WHERE o_orderdate >= TIMESTAMP '1995-02-01') AS cnt_2m,
          | COUNT(*) FILTER (WHERE o_orderdate >= TIMESTAMP '1995-03-01') AS cnt_1m
          |FROM orders JOIN customer ON o_custkey = c_custkey
          | JOIN nation ON c_nationkey = n_nationkey
          |WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-04-01'
          |GROUP BY n_name""".stripMargin)),

    // 6. anti-join: parts never shipped in bulk (no lineitem with qty >= 45)
    // — a key with REAL non-matches (r1's customers-without-orders variant
    // returned 0 rows on both sides, proving nothing)
    QueryDef("q6_anti_join", (s, dir) => {
      val t = Tables(s, dir)
      DimAlign
        .removeUnmatched(t.part,
          t.lineitem.where(col("l_quantity") >= 45).select("l_partkey"),
          "p_partkey", "l_partkey")
        .select("p_partkey", "p_name")
    },
      oracle = Some("""SELECT p_partkey, p_name FROM part
          |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity >= 45)""".stripMargin)),

    // 7. zero-fill outer join: per-nation order counts incl. empty nations
    QueryDef("q7_zero_fill", (s, dir) => {
      val t = Tables(s, dir)
      val agg = t.orders
        .join(t.customer.select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"))
      DimAlign
        .zeroFill(t.nation.select("n_nationkey", "n_name"), agg,
          "n_nationkey", "c_nationkey", Seq("n_orders"))
        .select("n_name", "n_orders")
    },
      oracle = Some("""SELECT n_name, COALESCE(x.n_orders, 0) AS n_orders FROM nation
          |LEFT JOIN (
          |  SELECT c_nationkey, COUNT(*) AS n_orders
          |  FROM orders JOIN customer ON o_custkey = c_custkey
          |  GROUP BY c_nationkey) x
          |ON n_nationkey = x.c_nationkey""".stripMargin)),

    // 8. code-correction cleanse (terc-style) with status classification
    QueryDef("q8_code_correction", (s, dir) => {
      val e = eventsWithCodes(Tables(s, dir))
      CodeCorrection
        .classify(e, col("rawc"), col("fb"), width = 7, prefixLen = 2,
          validPrefixes = validCodePrefixes)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), countDistinct(col("code")).as("n_codes"))
    },
      oracle = Some {
        val prefixes = validCodePrefixes.map(p => s"'$p'").mkString(", ")
        s"""WITH e AS (
           |  SELECT *, regexp_extract(props, '[0-9]+', 0) AS base FROM events
           |), c AS (
           |  SELECT *, CASE WHEN CAST(base AS INT) % 7 = 0 THEN NULL
           |    ELSE lpad(base, 2, '0') || lpad(CAST(user_id % 100000 AS VARCHAR), 5, '0') END AS raw0
           |  FROM e
           |), c2 AS (
           |  SELECT *,
           |    CASE WHEN raw0 IS NULL THEN NULL
           |         WHEN event_type = 'click' THEN substr(raw0, 2, 6)
           |         ELSE raw0 END AS rawc,
           |    lpad(CAST(event_id % 100 AS VARCHAR), 2, '0') || '00000' AS fb
           |  FROM c
           |), f AS (
           |  SELECT *, CASE WHEN rawc IS NULL OR length(trim(rawc)) = 0 THEN fb ELSE rawc END AS filled FROM c2
           |), p AS (
           |  SELECT *, CASE WHEN length(filled) = 6 THEN '0' || filled ELSE filled END AS code FROM f
           |), st AS (
           |  SELECT *, CASE WHEN code IS NULL THEN 'Unknown'
           |    WHEN substr(code, 1, 2) NOT IN ($prefixes) THEN 'Unknown2'
           |    WHEN rawc IS NULL OR length(trim(rawc)) = 0 THEN 'Matched'
           |    ELSE 'Ok' END AS status FROM p
           |)
           |SELECT status, COUNT(*) AS n, COUNT(DISTINCT code) AS n_codes FROM st GROUP BY status""".stripMargin
      }),

    // 9. deterministic top-k per group
    QueryDef("q9_topk_per_group", (s, dir) => {
      val t = Tables(s, dir)
      val oc = t.orders.join(
        broadcast(t.customer.select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      Ranking
        .topKPerGroup(oc, "c_mktsegment", col("o_totalprice").desc,
          col("o_orderkey").asc, 5)
        .select("c_mktsegment", "rnk", "o_orderkey", "o_totalprice")
    },
      oracle = Some("""SELECT c_mktsegment, rnk, o_orderkey, o_totalprice FROM (
          |  SELECT c_mktsegment, o_orderkey, o_totalprice,
          |    CAST(row_number() OVER (
          |      PARTITION BY c_mktsegment
          |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
          |  FROM orders JOIN customer ON o_custkey = c_custkey)
          |WHERE rnk <= 5""".stripMargin)),

    // 10. single-pass validation suite (great_expectations analog)
    QueryDef("q10_validation", (s, dir) =>
      Validator.validate(Tables(s, dir).events, eventExpectations),
      oracle = Some((Seq(
        expectationOracle("props_format",
          """props IS NOT NULL AND regexp_matches(props, '^\{"k": [0-9]+\}$')""", 100),
        expectationOracle("event_type_in_set",
          "event_type IN ('click','view','purchase','signup','error')", 100),
        expectationOracle("value_range", "value >= 0.0 AND value <= 500.0", 100),
        expectationOracle("ts_not_null", "ts IS NOT NULL", 100),
        expectationOracle("user_id_low", "user_id >= 0 AND user_id <= 99", 50)
      ) :+
        """SELECT 'event_id_unique' AS expectation, COUNT(*) AS n_rows,
          | COUNT(DISTINCT event_id) AS n_pass, 100 AS mostly_pct,
          | (COUNT(DISTINCT event_id) * 100 >= 100 * COUNT(*)) AS success
          |FROM events""".stripMargin).mkString("\nUNION ALL\n"))),

    // 11. roman numeral codec round-trip
    QueryDef("q11_deromanize", (s, dir) =>
      Tables(s, dir).part
        .select(col("p_size"))
        .where(col("p_size").between(1, 30))
        .distinct()
        .select(col("p_size"), F.toRoman(col("p_size")).as("roman"))
        .withColumn("back", F.fromRoman(col("roman"))),
      oracle = Some(s"""SELECT p_size, ${romanCase("p_size")} AS roman, p_size AS back
           |FROM (SELECT DISTINCT p_size FROM part WHERE p_size BETWEEN 1 AND 30)""".stripMargin)),

    // 12. schema-evolution union with zero fill
    QueryDef("q12_schema_align", (s, dir) => {
      val o = Tables(s, dir).orders
      val a = o.where(year(col("o_orderdate")) === 1995)
        .select(col("o_orderkey"), col("o_totalprice"), lit("y1995").as("src"))
      val b = o.where(year(col("o_orderdate")) === 1996)
        .select(col("o_orderkey"), lit("y1996").as("src"))
      SchemaAlign.unionZeroFill(a, b)
        .groupBy(col("src"))
        .agg(count(lit(1)).as("n"), xsum(col("o_totalprice")).as("total"))
    },
      oracle = Some("""SELECT src, COUNT(*) AS n,
          | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM (
          |  SELECT o_orderkey, o_totalprice, 'y1995' AS src FROM orders WHERE year(o_orderdate) = 1995
          |  UNION ALL
          |  SELECT o_orderkey, 0 AS o_totalprice, 'y1996' AS src FROM orders WHERE year(o_orderdate) = 1996
          |) GROUP BY src""".stripMargin)),

    // 13. gap-based sessionization via window functions
    QueryDef("q13_sessionize", (s, dir) =>
      Sessionize.userSessionStats(Tables(s, dir).events, "user_id", "ts",
        "event_id", gapMs = 1800000L),
      oracle = Some("""WITH x AS (
          |  SELECT user_id, epoch_ms(ts) AS ms,
          |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
          |  FROM events
          |), f AS (
          |  SELECT user_id,
          |    CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS flag
          |  FROM x)
          |SELECT user_id, COUNT(*) AS n_events, CAST(SUM(flag) AS BIGINT) AS n_sessions
          |FROM f GROUP BY user_id""".stripMargin)),

    // 14. tumbling time buckets (batch twin of the streaming agg)
    QueryDef("q14_time_buckets", (s, dir) =>
      TimeBuckets.hourly(Tables(s, dir).events, "ts",
        Seq(count(lit(1)).as("n"), xsum(col("value")).as("total_value")),
        extraKeys = Seq("event_type")),
      oracle = Some("""SELECT date_trunc('hour', ts) AS bucket_ts, event_type, COUNT(*) AS n,
          | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
          |FROM events GROUP BY 1, 2""".stripMargin)),

    // 15. monthly-partitioned + clustered sink, manifest read-back (the
    // write is guarded/idempotent per session+dir — see sinkFixture)
    QueryDef("q15_partition_manifest", (s, dir) =>
      s.read.parquet(sinkFixture(s, dir))
        .groupBy(col("p_month").cast("string").as("p_month"))
        .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key")),
      oracle = Some("""SELECT strftime(o_orderdate, '%Y-%m') AS p_month, COUNT(*) AS n,
          | MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
          |FROM orders GROUP BY 1""".stripMargin)),

    // 28. '#'-delimited CSV ingest with explicit schema + errors→null date
    // coercion (the reference's entry point, helpers.py:183-197)
    QueryDef("q28_csv_ingest", (s, dir) => {
      val df = GraftCsv.read(s, csvFixture(s, dir), csvOrdersSchema,
        delimiter = "#", timestampCols = Seq("o_orderdate"))
      GraftCsv.goodRecords(df)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_orderdate").isNull, 1L).otherwise(0L))
            .as("n_bad_date"),
          xsum(col("o_totalprice")).as("total"))
    },
      oracle = Some("""SELECT o_orderstatus, COUNT(*) AS n,
          | COUNT(*) FILTER (WHERE o_orderkey % 97 = 0) AS n_bad_date,
          | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM orders GROUP BY o_orderstatus""".stripMargin)),

    // 29c. ZIP-archived CSV ingest — the reference's real entry format
    // (download ZIP → extract → read_csv, helpers.py:22-31) as a streaming
    // ZipInputStream → same PERMISSIVE parse; identical rows to q28, so the
    // aggregation and oracle match q28's exactly
    QueryDef("q59_zip_ingest", (s, dir) => {
      val df = GraftCsv.readZip(s, zipFixture(s, dir), csvOrdersSchema,
        delimiter = "#", timestampCols = Seq("o_orderdate"))
      GraftCsv.goodRecords(df)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_orderdate").isNull, 1L).otherwise(0L))
            .as("n_bad_date"),
          xsum(col("o_totalprice")).as("total"))
    },
      // q59 reads the SAME rows through the ZIP path, so the oracle is q28's
      oracle = Some("""SELECT o_orderstatus, COUNT(*) AS n,
          | COUNT(*) FILTER (WHERE o_orderkey % 97 = 0) AS n_bad_date,
          | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM orders GROUP BY o_orderstatus""".stripMargin)),

    // 38. point-in-polygon spatial join (the reference's shapefile dim as a
    // polygon layer): grid-cell blocking + integer-exact ray casting, all
    // reproduced by a pure-SQL DuckDB oracle over the same fixtures
    QueryDef("q60_spatial_join", (s, dir) => {
      val t = Tables(s, dir)
      SpatialJoin.pointInPolygon(pointFixture(t), "pt_id", col("px"),
        col("py"), polygonFixture(t), "poly_id", col("vertices"),
        cellSize = 64L)
        .groupBy(col("poly_id"))
        .agg(count(lit(1)).as("n_inside"), min(col("pt_id")).as("min_pt"),
          max(col("pt_id")).as("max_pt"))
    },
      // q60: the same integer ray cast over ALL (point, polygon) pairs —
      // blocking is recall-complete (a contained point is inside the bbox),
      // so the restricted Spark join and the all-pairs oracle agree exactly
      oracle = Some("""WITH dirs(k, dx, dy) AS (
          |  VALUES (0,1,0),(1,1,1),(2,0,1),(3,-1,1),(4,-1,0),(5,-1,-1),(6,0,-1),(7,1,-1)
          |), v AS (
          |  SELECT n_nationkey AS poly_id, k,
          |    CAST(n_nationkey AS BIGINT)*1000 + (50 + (CAST(n_nationkey AS BIGINT)*7 + k*13) % 30)*dx AS x,
          |    CAST(n_nationkey AS BIGINT)*500  + (50 + (CAST(n_nationkey AS BIGINT)*7 + k*13) % 30)*dy AS y
          |  FROM nation CROSS JOIN dirs
          |), e AS (
          |  SELECT a.poly_id, a.x AS xi, a.y AS yi, b.x AS xj, b.y AS yj
          |  FROM v a JOIN v b ON a.poly_id = b.poly_id AND b.k = (a.k + 1) % 8
          |), p AS (
          |  SELECT c_custkey AS pt_id,
          |    CAST(c_nationkey AS BIGINT)*1000 + c_custkey*37 % 200 - 100 AS px,
          |    CAST(c_nationkey AS BIGINT)*500  + c_custkey*53 % 200 - 100 AS py
          |  FROM customer
          |), c AS (
          |  SELECT pt_id, poly_id,
          |    COUNT(*) FILTER (WHERE ((yi > py) != (yj > py)) AND
          |      (CASE WHEN yj - yi > 0 THEN (px - xi)*(yj - yi) < (py - yi)*(xj - xi)
          |            ELSE (px - xi)*(yj - yi) > (py - yi)*(xj - xi) END)) AS nc
          |  FROM p CROSS JOIN e
          |  GROUP BY pt_id, poly_id
          |)
          |SELECT CAST(poly_id AS BIGINT) AS poly_id, COUNT(*) AS n_inside,
          |  MIN(pt_id) AS min_pt, MAX(pt_id) AS max_pt
          |FROM c WHERE nc % 2 = 1 GROUP BY poly_id""".stripMargin)),

    // 29. code cleanse with the name-containment dimension fallback lookup
    // (helpers.py:273) — all five statuses populated
    QueryDef("q29_name_lookup", (s, dir) => {
      val t = Tables(s, dir)
      CodeCorrection
        .classifyWithLookup(lookupFixture(t), "c_custkey", col("rawcode"),
          col("fb"), col("place"),
          t.nation.select(col("n_name"),
            concat(lpad(col("n_nationkey").cast("string"), 2, "0"),
              lit("00000")).as("n_code")),
          "n_name", "n_code", width = 7, prefixLen = 2,
          validPrefixes = validCodePrefixes)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), countDistinct(col("code")).as("n_codes"))
    },
      oracle = Some {
        val prefixes = validCodePrefixes.map(p => s"'$p'").mkString(", ")
        s"""WITH f AS (
           |  SELECT c_custkey,
           |    CASE WHEN c_custkey % 5 = 0 THEN 'area of ' || n_name || ' province'
           |         ELSE 'nowhere' END AS place,
           |    CASE WHEN c_custkey % 5 IN (0, 1) THEN NULL
           |         WHEN c_custkey % 5 = 3 THEN '77' || lpad(CAST(c_custkey % 1000 AS VARCHAR), 5, '0')
           |         WHEN c_custkey % 5 = 4 THEN lpad(CAST(c_custkey % 40 AS VARCHAR), 2, '0') || '1234'
           |         ELSE lpad(CAST(c_custkey % 40 AS VARCHAR), 2, '0') || '12345' END AS rawcode,
           |    CASE WHEN c_custkey % 10 = 1 THEN '0555555' END AS fb
           |  FROM customer JOIN nation ON c_nationkey = n_nationkey
           |), lk AS (
           |  SELECT c_custkey AS pk,
           |    MIN(lpad(CAST(nn.n_nationkey AS VARCHAR), 2, '0') || '00000') AS byname
           |  FROM f JOIN nation nn ON contains(lower(f.place), lower(nn.n_name))
           |  WHERE f.rawcode IS NULL AND f.fb IS NULL
           |  GROUP BY 1
           |), x AS (
           |  SELECT f.*, COALESCE(f.rawcode, f.fb, lk.byname) AS filled
           |  FROM f LEFT JOIN lk ON f.c_custkey = lk.pk
           |), p AS (
           |  SELECT *, CASE WHEN length(filled) = 6 THEN '0' || filled ELSE filled END AS code FROM x
           |)
           |SELECT status, COUNT(*) AS n, COUNT(DISTINCT code) AS n_codes FROM (
           |  SELECT *, CASE WHEN code IS NULL THEN 'Unknown'
           |    WHEN substr(code, 1, 2) NOT IN ($prefixes) THEN 'Unknown2'
           |    WHEN rawcode IS NOT NULL THEN 'Ok'
           |    WHEN fb IS NOT NULL THEN 'Matched'
           |    ELSE 'MatchedByName' END AS status FROM p)
           |GROUP BY status""".stripMargin
      }),

    // 30. two-level pivot with the de-Romanized column-rename pass
    // (SURVEY §2.11's promised rename; reference helpers.py:431,485-533)
    QueryDef("q30_pivot2", (s, dir) => {
      val li = Tables(s, dir).lineitem
        .withColumn("roman_cat", F.toRoman(col("l_linenumber").cast("int")))
      PivotAggregates.countPivot2(li, "l_returnflag", "l_linestatus",
        Seq("O", "F"), "roman_cat", (1 to 7).map(RomanCodec.toRomanStr))
    },
      oracle = Some {
        val cols = for (a <- Seq("O", "F"); n <- 1 to 7) yield
          s" COUNT(*) FILTER (WHERE l_linestatus = '$a' AND l_linenumber = $n) AS cnt_${a}_$n"
        s"SELECT l_returnflag,\n${cols.mkString(",\n")}\nFROM lineitem GROUP BY l_returnflag"
      }),

    // 33. single-pass column profiler (counts / distinct / min / max per
    // column in ONE scan)
    QueryDef("q33_profile", (s, dir) =>
      Profiler.profile(Tables(s, dir).orders,
        Seq("o_orderkey", "o_custkey", "o_orderstatus")),
      oracle = Some(Seq("o_orderkey", "o_custkey", "o_orderstatus").map(c =>
        s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows, COUNT($c) AS n_nonnull,
           | COUNT(DISTINCT $c) AS n_distinct, CAST(MIN($c) AS VARCHAR) AS min_s,
           | CAST(MAX($c) AS VARCHAR) AS max_s FROM orders""".stripMargin)
        .mkString("\nUNION ALL\n"))),

    // 34. salted skew join (dim replicated ×buckets, fact salted) — result
    // must equal the plain join, which is exactly what the oracle checks
    QueryDef("q34_salted_join", (s, dir) => {
      val t = Tables(s, dir)
      SkewJoin
        .salted(t.orders, t.customer.select("c_custkey", "c_mktsegment"),
          "o_custkey", "c_custkey", col("o_orderkey"), buckets = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), xsum(col("o_totalprice")).as("total"))
    },
      oracle = Some("""SELECT c_mktsegment, COUNT(*) AS n,
          | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY c_mktsegment""".stripMargin)),

    // 36g. sorted-neighborhood ER blocking: one block-keyed sort, w−1
    // stacked lead() windows, linear candidate count, Levenshtein verify
    // in the projection — the classic alternative to q48's q-gram blocks
    QueryDef("q91_sorted_neighborhood", (s, dir) =>
      SortedNeighborhood.pairs(Tables(s, dir).customer,
        idCol = col("c_custkey"), blockCol = col("c_mktsegment"),
        keyCol = col("c_name"), nameCol = col("c_name"),
        w = 3, maxDist = 2),
      // q91: the identical blocked window replayed in SQL — same
      // (key, id) tie-break, same lead offsets, same levenshtein verify
      oracle = Some("""WITH nb AS (
          |  SELECT c_custkey AS id_a, c_name AS name_a,
          |    lead(c_custkey, 1) OVER w AS b1, lead(c_name, 1) OVER w AS n1,
          |    lead(c_custkey, 2) OVER w AS b2, lead(c_name, 2) OVER w AS n2
          |  FROM customer
          |  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_name, c_custkey)
          |), p AS (
          |  SELECT id_a, b1 AS id_b,
          |    CAST(levenshtein(name_a, n1) AS BIGINT) AS dist
          |  FROM nb WHERE b1 IS NOT NULL
          |  UNION ALL
          |  SELECT id_a, b2, CAST(levenshtein(name_a, n2) AS BIGINT)
          |  FROM nb WHERE b2 IS NOT NULL
          |)
          |SELECT id_a, id_b, dist FROM p WHERE dist <= 2""".stripMargin)),

    // 47b. per-group min-max feature scaling to integer basis points —
    // one shuffle, NO sort (unbounded-frame window min/max)
    QueryDef("q88_minmax_scale", (s, dir) =>
      FeatureScale.minMaxBp(Tables(s, dir).customer,
        groupCol = col("c_mktsegment"),
        // double → DECIMAL(18,2) → cents: exact on both engines (the
        // float rule — a raw double*100 cast truncates vs rounds
        // differently across engines)
        valueCol = (col("c_acctbal").cast(DecimalType(18, 2)) * 100)
          .cast("long"),
        idCol = col("c_custkey")),
      // q88/q89: identical integer arithmetic in DuckDB (// is integral
      // division; ntile shares the standard remainder-to-leading-buckets
      // definition)
      oracle = Some("""WITH v AS (
          |  SELECT c_custkey AS id, c_mktsegment AS grp,
          |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
          |  FROM customer
          |), mm AS (
          |  SELECT grp, MIN(v) AS mn, MAX(v) AS mx FROM v GROUP BY grp
          |)
          |SELECT id, v.grp, v.v,
          |  CASE WHEN mx = mn THEN 0
          |       ELSE ((v.v - mn) * 10000) // (mx - mn) END AS scaled_bp
          |FROM v JOIN mm ON v.grp = mm.grp""".stripMargin)),

    // 47c. per-group equal-frequency binning (quantile discretization)
    // via ntile over the deterministic (value, id) order
    QueryDef("q89_equal_freq_bins", (s, dir) =>
      FeatureScale.equalFreqBins(Tables(s, dir).customer,
        groupCol = col("c_mktsegment"),
        valueCol = (col("c_acctbal").cast(DecimalType(18, 2)) * 100)
          .cast("long"),
        idCol = col("c_custkey"), bins = 4),
      oracle = Some("""SELECT c_custkey AS id, c_mktsegment AS grp,
          |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
          |  CAST(ntile(4) OVER (PARTITION BY c_mktsegment
          |    ORDER BY CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT), c_custkey) AS BIGINT)
          |    AS bin
          |FROM customer""".stripMargin)),

    // 46b. point-in-time-correct feature join: per purchase label, the
    // user's trailing click/view counts over 1h/24h look-backs, strictly
    // before the label instant — one shuffle, one sort, all four features
    QueryDef("q87_pit_features", (s, dir) => {
      val e = Tables(s, dir).events
      PitFeatures.trailingCounts(
        labels = e.where(col("event_type") === "purchase"),
        labelId = col("event_id"), labelUser = col("user_id"),
        labelTs = col("ts"),
        activity = e.where(col("event_type").isin("click", "view")),
        actUser = col("user_id"), actTs = col("ts"),
        actClass = col("event_type"),
        classes = Seq("click", "view"),
        windows = Seq("1h" -> 3600L, "24h" -> 86400L))
    },
      // q87: the same union + RANGE-frame windows — strict-before frames
      // ([m−W, m−1] in microseconds) and integer weights, engine-exact
      oracle = Some("""WITH m AS (
          |  SELECT CAST(NULL AS BIGINT) AS label_id, user_id,
          |    CAST(NULL AS TIMESTAMP) AS lts, epoch_us(ts) AS m,
          |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS wc,
          |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS wv
          |  FROM events WHERE event_type IN ('click', 'view')
          |  UNION ALL
          |  SELECT event_id, user_id, ts, epoch_us(ts), 0, 0
          |  FROM events WHERE event_type = 'purchase'
          |), f AS (
          |  SELECT label_id, user_id, lts AS ts,
          |    CAST(COALESCE(SUM(wc) OVER w1, 0) AS BIGINT) AS click_1h,
          |    CAST(COALESCE(SUM(wv) OVER w1, 0) AS BIGINT) AS view_1h,
          |    CAST(COALESCE(SUM(wc) OVER w2, 0) AS BIGINT) AS click_24h,
          |    CAST(COALESCE(SUM(wv) OVER w2, 0) AS BIGINT) AS view_24h
          |  FROM m
          |  WINDOW
          |    w1 AS (PARTITION BY user_id ORDER BY m
          |           RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING),
          |    w2 AS (PARTITION BY user_id ORDER BY m
          |           RANGE BETWEEN 86400000000 PRECEDING AND 1 PRECEDING)
          |)
          |SELECT label_id, user_id, ts, click_1h, view_1h, click_24h, view_24h
          |FROM f WHERE label_id IS NOT NULL""".stripMargin)),

    // 38b. geometry-typed warehouse dim (reference helpers.py:743
    // shapefile→WKT→GEOGRAPHY analog): WKT text + bbox pruning columns,
    // built from the q60 polygon fixtures with pure column expressions —
    // the oracle rebuilds the WKT byte-for-byte in SQL
    QueryDef("q85_geometry_dim", (s, dir) =>
      GeometryDim.asGeometryColumns(polygonFixture(Tables(s, dir)),
        "poly_id", col("vertices")),
      // q85: rebuild the WKT text + bbox from the same vertex arithmetic as
      // the q60 oracle — string_agg in ring order, closing vertex repeated
      oracle = Some("""WITH dirs(k, dx, dy) AS (
          |  VALUES (0,1,0),(1,1,1),(2,0,1),(3,-1,1),(4,-1,0),(5,-1,-1),(6,0,-1),(7,1,-1)
          |), v AS (
          |  SELECT CAST(n_nationkey AS BIGINT) AS poly_id, k,
          |    CAST(n_nationkey AS BIGINT)*1000 + (50 + (CAST(n_nationkey AS BIGINT)*7 + k*13) % 30)*dx AS x,
          |    CAST(n_nationkey AS BIGINT)*500  + (50 + (CAST(n_nationkey AS BIGINT)*7 + k*13) % 30)*dy AS y
          |  FROM nation CROSS JOIN dirs
          |)
          |SELECT poly_id,
          |  'POLYGON ((' || string_agg(x || ' ' || y, ', ' ORDER BY k) ||
          |    ', ' || (array_agg(x || ' ' || y ORDER BY k))[1] || '))' AS wkt,
          |  MIN(x) AS xmin, MIN(y) AS ymin, MAX(x) AS xmax, MAX(y) AS ymax
          |FROM v GROUP BY poly_id""".stripMargin)),

    // 38c. ESRI .shp container parse (reference helpers.py:743 reads
    // powiaty.shp via geopandas — the one ingest step q85 took as WKT
    // fixtures): assemble a real single-record shapefile per nation from
    // the q85 vertex arithmetic, then genuinely invert the binary layout
    // (BE framing, LE shape body, word-unit lengths, ring de-closing,
    // bbox cross-check) via the ShpCodec kernel into the same
    // GeometryDim WKT+bbox dim — the q85 oracle extended one step left.
    // n_records/n_vertices come from the PARSE, not the fixture.
    QueryDef("q96_shapefile", (s, dir) => {
      val nk = col("n_nationkey").cast("long")
      val parsed = Tables(s, dir).nation
        .select(nk.as("poly_id"), F.shpRecords(F.shpFixture(nk)).as("recs"))
        .select(col("poly_id"), explode(col("recs")).as("r"))
        .select(col("poly_id"), col("r.recno").cast("long").as("recno"),
          transform(col("r.ring"), p => struct(
            element_at(p, 1).cast("long").as("x"),
            element_at(p, 2).cast("long").as("y"))).as("vertices"))
      val xs = transform(col("vertices"), v => v.getField("x"))
      val ys = transform(col("vertices"), v => v.getField("y"))
      parsed.select(col("poly_id"), col("recno"),
        size(col("vertices")).cast("long").as("n_vertices"),
        GeometryDim.toWkt(col("vertices")).as("wkt"),
        array_min(xs).as("xmin"), array_min(ys).as("ymin"),
        array_max(xs).as("xmax"), array_max(ys).as("ymax"))
    },
      // q96: the same vertex arithmetic as q85 — the oracle never sees the
      // shapefile bytes; Spark must recover identical WKT by parsing the
      // binary container it assembled. recno is the 1-based shapefile
      // record number, n_vertices the parsed open-ring length (8).
      oracle = Some("""WITH dirs(k, dx, dy) AS (
          |  VALUES (0,1,0),(1,1,1),(2,0,1),(3,-1,1),(4,-1,0),(5,-1,-1),(6,0,-1),(7,1,-1)
          |), v AS (
          |  SELECT CAST(n_nationkey AS BIGINT) AS poly_id, k,
          |    CAST(n_nationkey AS BIGINT)*1000 + (50 + (CAST(n_nationkey AS BIGINT)*7 + k*13) % 30)*dx AS x,
          |    CAST(n_nationkey AS BIGINT)*500  + (50 + (CAST(n_nationkey AS BIGINT)*7 + k*13) % 30)*dy AS y
          |  FROM nation CROSS JOIN dirs
          |)
          |SELECT poly_id, CAST(1 AS BIGINT) AS recno,
          |  CAST(COUNT(*) AS BIGINT) AS n_vertices,
          |  'POLYGON ((' || string_agg(x || ' ' || y, ', ' ORDER BY k) ||
          |    ', ' || (array_agg(x || ' ' || y ORDER BY k))[1] || '))' AS wkt,
          |  MIN(x) AS xmin, MIN(y) AS ymin, MAX(x) AS xmax, MAX(y) AS ymax
          |FROM v GROUP BY poly_id""".stripMargin)),

    // 39. as-of join (latest dim version at or before the fact timestamp)
    // — oracled against DuckDB's native ASOF JOIN
    QueryDef("q39_asof_join", (s, dir) => {
      val t = Tables(s, dir)
      AsOfJoin
        .latest(t.orders, scdFixture(t), "o_custkey",
          col("o_orderdate").cast("timestamp"), col("eff_date"),
          Seq("tier"))
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n"), xsum(col("o_totalprice")).as("total"))
    },
      oracle = Some("""WITH scd AS (
          |  SELECT c_custkey AS k, CAST(eff AS TIMESTAMP) AS eff_date,
          |    c_custkey % 5 * 10 + ver AS tier
          |  FROM customer, (VALUES (0, '1993-01-01'), (1, '1995-02-15'),
          |    (2, '1996-01-01')) AS v(ver, eff)
          |)
          |SELECT tier, COUNT(*) AS n,
          | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM orders ASOF LEFT JOIN scd
          |  ON o_custkey = scd.k AND o_orderdate >= scd.eff_date
          |GROUP BY tier""".stripMargin)),

    // 39c. snapshot diff: classify keys across two table versions as
    // added/removed/changed/same by map-side payload hash — the diff of
    // the q61 CDC merge against its input snapshot, so every status is
    // populated by construction
    QueryDef("q75_snapshot_diff", (s, dir) => {
      val t = Tables(s, dir)
      val snap = t.customer.select(col("c_custkey"), col("c_mktsegment"))
      val merged = CdcMerge(snap, cdcFixture(t), "c_custkey", "seq", "op",
        Seq("c_mktsegment"))
      SnapshotDiff.diff(snap, merged, "c_custkey", Seq("c_mktsegment"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), min(col("c_custkey")).as("min_key"),
          max(col("c_custkey")).as("max_key"))
    },
      // q75: the oracle rebuilds the q61 merge and diffs by VALUE where the
      // engine diffs by 64-bit payload hash - equivalence holds unless two
      // different segments collide in hash64 (2^-64 per key; the q45/q68
      // hash-reduction precedent)
      oracle = Some("""WITH chg AS (
          |  SELECT c_custkey, 1 AS seq, 'U' AS op, 'UPGRADED' AS seg
          |  FROM customer WHERE c_custkey % 4 = 1
          |  UNION ALL SELECT c_custkey, 2, 'U', 'FINAL'
          |  FROM customer WHERE c_custkey % 4 = 1
          |  UNION ALL SELECT c_custkey, 1, 'D', NULL
          |  FROM customer WHERE c_custkey % 4 = 2
          |  UNION ALL SELECT c_custkey, 1, 'U', 'TOUCHED'
          |  FROM customer WHERE c_custkey % 4 = 3
          |  UNION ALL SELECT c_custkey + 10000000, 1, 'I', 'NEWSEG'
          |  FROM customer WHERE c_custkey % 4 = 0
          |), allr AS (
          |  SELECT c_custkey, CAST(-9223372036854775808 AS BIGINT) AS seq,
          |    'S' AS op, c_mktsegment AS seg FROM customer
          |  UNION ALL SELECT c_custkey, CAST(seq AS BIGINT), op, seg FROM chg
          |), w AS (
          |  SELECT c_custkey, seg, op,
          |    row_number() OVER (PARTITION BY c_custkey ORDER BY seq DESC) AS rn
          |  FROM allr
          |), merged AS (
          |  SELECT c_custkey, seg FROM w WHERE rn = 1 AND op <> 'D'
          |), snap AS (
          |  SELECT c_custkey, c_mktsegment AS seg FROM customer
          |)
          |SELECT status, COUNT(*) AS n, MIN(k) AS min_key, MAX(k) AS max_key
          |FROM (
          |  SELECT COALESCE(s.c_custkey, m.c_custkey) AS k,
          |    CASE WHEN s.c_custkey IS NULL THEN 'added'
          |         WHEN m.c_custkey IS NULL THEN 'removed'
          |         WHEN s.seg = m.seg THEN 'same'
          |         ELSE 'changed' END AS status
          |  FROM snap s FULL JOIN merged m ON s.c_custkey = m.c_custkey)
          |GROUP BY status""".stripMargin)),

    // 26l. k-anonymity audit over quasi-identifier columns — the
    // re-identification-risk counterpart of the q63 PII scrub
    QueryDef("q76_k_anonymity", (s, dir) =>
      KAnonymity.audit(Tables(s, dir).customer,
        Seq("c_nationkey", "c_mktsegment"), k = 10L),
      oracle = Some("""WITH g AS (
          |  SELECT c_nationkey, c_mktsegment, COUNT(*) AS group_n
          |  FROM customer GROUP BY 1, 2
          |)
          |SELECT COUNT(*) AS n_groups,
          |  CAST(SUM(CASE WHEN group_n < 10 THEN group_n ELSE 0 END) AS BIGINT) AS rows_at_risk,
          |  CAST(SUM(CASE WHEN group_n < 10 THEN 1 ELSE 0 END) AS BIGINT) AS groups_at_risk,
          |  MIN(group_n) AS min_group
          |FROM g""".stripMargin)),

    // 14c. time-in-state weighting over SCD2 intervals: total days each
    // tier was in effect inside a horizon (open versions clipped) — the
    // temporal-weighting consumer of q55's interval construction
    QueryDef("q73_time_weighted", (s, dir) =>
      Scd2.timeInState(scdFixture(Tables(s, dir)), "o_custkey",
        col("eff_date"), "tier",
        lit("1994-01-01"), lit("1996-06-01")),
      oracle = Some("""WITH scd AS (
          |  SELECT c_custkey, CAST(eff AS TIMESTAMP) AS valid_from,
          |    c_custkey % 5 * 10 + ver AS tier
          |  FROM customer, (VALUES (0, '1993-01-01'), (1, '1995-02-15'),
          |    (2, '1996-01-01')) AS v(ver, eff)
          |), iv AS (
          |  SELECT tier, valid_from,
          |    lead(valid_from) OVER (PARTITION BY c_custkey ORDER BY valid_from) AS valid_to
          |  FROM scd
          |), clipped AS (
          |  SELECT tier,
          |    greatest(CAST(valid_from AS DATE), DATE '1994-01-01') AS lo,
          |    least(COALESCE(CAST(valid_to AS DATE), DATE '1996-06-01'),
          |      DATE '1996-06-01') AS hi
          |  FROM iv
          |), d AS (
          |  SELECT tier, CAST(greatest(hi - lo, 0) AS BIGINT) AS days FROM clipped
          |)
          |SELECT tier, CAST(SUM(days) AS BIGINT) AS total_days,
          |  COUNT(*) FILTER (WHERE days > 0) AS n_intervals
          |FROM d GROUP BY tier""".stripMargin)),

    // 9b. exact lower median per group via rank arithmetic — a MEMBER of
    // the group, bit-identical across engines where interpolated
    // percentiles drift in the last ulp
    QueryDef("q74_group_median", (s, dir) =>
      GroupStats.medianBy(Tables(s, dir).orders, col("o_orderstatus"),
        dec2(col("o_totalprice")).cast("double"), col("o_orderkey")),
      oracle = Some("""WITH r AS (
          |  SELECT o_orderstatus AS grp,
          |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS v,
          |    o_orderkey AS id,
          |    CAST(row_number() OVER (PARTITION BY o_orderstatus
          |      ORDER BY CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE),
          |        o_orderkey) AS BIGINT) AS rnk,
          |    CAST(COUNT(*) OVER (PARTITION BY o_orderstatus) AS BIGINT) AS n
          |  FROM orders
          |)
          |SELECT grp, v AS median_v, id AS median_id, n AS n_rows
          |FROM r WHERE rnk = (n + 1) // 2""".stripMargin)),

    // 4b. unpivot/melt — the inverse of the q4 pivot: the wide aggregate
    // back to (group, variable, value) long form via a map-side Expand
    // (zero shuffle beyond the pivot's own)
    QueryDef("q77_unpivot", (s, dir) => {
      val wide = PivotAggregates.countPivot(Tables(s, dir).orders,
        "o_orderpriority", "o_orderstatus", Seq("O", "F", "P"))
      Unpivot.melt(wide, Seq("o_orderpriority"), Seq("O", "F", "P"),
        "status", "cnt")
    },
      oracle = Some("""WITH g AS (SELECT DISTINCT o_orderpriority FROM orders),
          | v(status) AS (VALUES ('O'), ('F'), ('P')),
          | c AS (
          |  SELECT o_orderpriority, o_orderstatus AS status, COUNT(*) AS cnt
          |  FROM orders GROUP BY 1, 2
          |)
          |SELECT g.o_orderpriority, v.status,
          |  CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt
          |FROM g CROSS JOIN v
          |LEFT JOIN c ON c.o_orderpriority IS NOT DISTINCT FROM g.o_orderpriority
          |  AND c.status = v.status""".stripMargin)),

    // 49b. CUBE: all four grains of (status, priority) in ONE shuffle,
    // with the GROUPING bitmask disambiguating rolled-up vs null dims
    QueryDef("q80_cube", (s, dir) =>
      CubeAgg.cubeCounts(Tables(s, dir).orders, col("o_orderstatus"),
        col("o_orderpriority"), col("o_totalprice"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("grain_id"), col("n"), col("total")),
      oracle = Some("""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
          | COALESCE(o_orderpriority, 'ALL') AS priority,
          | CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS grain_id,
          | COUNT(*) AS n,
          | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin)),

    // 14b. trailing 7-day RANGE-frame moving aggregates: gaps in the
    // series shrink the window (a ROWS frame would silently reach back)
    QueryDef("q72_moving_avg", (s, dir) =>
      MovingAgg.trailingDaily(
        Tables(s, dir).orders.where(col("o_orderdate") < lit("1995-07-01")),
        col("o_orderpriority"), col("o_orderdate"), col("o_totalprice"),
        days = 7),
      oracle = Some("""WITH daily AS (
          |  SELECT o_orderpriority AS grp, CAST(o_orderdate AS DATE) AS d,
          |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS t
          |  FROM orders WHERE o_orderdate < TIMESTAMP '1995-07-01'
          |  GROUP BY 1, 2
          |)
          |SELECT grp, d, CAST(t AS DOUBLE) AS day_total,
          |  CAST(SUM(t) OVER w AS DOUBLE) AS total_w,
          |  CAST(COUNT(*) OVER w AS BIGINT) AS n_days_w,
          |  CAST(SUM(t) OVER w AS DOUBLE) / COUNT(*) OVER w AS avg_w
          |FROM daily
          |WINDOW w AS (PARTITION BY grp ORDER BY d
          |  RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)""".stripMargin)),

    // 54. temporal gap fill: dense hourly series per event type with
    // zero-filled empty buckets (generated spine, no driver loop)
    QueryDef("q54_time_fill", (s, dir) =>
      TimeFill.denseHourly(
        Tables(s, dir).events.where(col("event_type").isin("purchase", "signup")),
        "ts", "event_type", count(lit(1))),
      oracle = Some("""WITH b AS (
          |  SELECT event_type, date_trunc('hour', ts) AS bucket_ts, COUNT(*) AS v
          |  FROM events WHERE event_type IN ('purchase', 'signup')
          |  GROUP BY 1, 2
          |), bounds AS (
          |  SELECT MIN(bucket_ts) AS lo, MAX(bucket_ts) AS hi FROM b
          |), spine AS (
          |  SELECT k.event_type, g.ts AS bucket_ts
          |  FROM (SELECT DISTINCT event_type FROM b) k,
          |    bounds, LATERAL (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS ts) g
          |)
          |SELECT spine.event_type, spine.bucket_ts, COALESCE(b.v, 0) AS v
          |FROM spine LEFT JOIN b
          |  ON spine.event_type = b.event_type AND spine.bucket_ts = b.bucket_ts""".stripMargin)),

    // 55. SCD type-2 interval construction (the producer side of the
    // as-of join): change log → validity ranges via lead()
    QueryDef("q55_scd2_intervals", (s, dir) => {
      val t = Tables(s, dir)
      Scd2.intervals(scdFixture(t), "o_custkey", col("eff_date"), Seq("tier"))
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n_versions"),
          sum(when(col("valid_to").isNull, 1L).otherwise(0L)).as("n_open"))
    },
      oracle = Some("""WITH scd AS (
          |  SELECT c_custkey, CAST(eff AS TIMESTAMP) AS valid_from,
          |    c_custkey % 5 * 10 + ver AS tier
          |  FROM customer, (VALUES (0, '1993-01-01'), (1, '1995-02-15'),
          |    (2, '1996-01-01')) AS v(ver, eff)
          |), iv AS (
          |  SELECT tier, valid_from,
          |    lead(valid_from) OVER (PARTITION BY c_custkey ORDER BY valid_from) AS valid_to
          |  FROM scd
          |)
          |SELECT tier, COUNT(*) AS n_versions,
          | COUNT(*) FILTER (WHERE valid_to IS NULL) AS n_open
          |FROM iv GROUP BY tier""".stripMargin)),

    // 49. multi-grain aggregation: ROLLUP produces (status, priority),
    // (status), and grand-total grains in one shuffle
    QueryDef("q49_rollup", (s, dir) =>
      Tables(s, dir).orders
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), xsum(col("o_totalprice")).as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("total")),
      oracle = Some("""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
          | COALESCE(o_orderpriority, 'ALL') AS priority, COUNT(*) AS n,
          | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin)),

    // 50. argmax/argmin per group without a self-join (max_by/min_by);
    // the ordering key is an exact-decimal composite (price, orderkey) so
    // ties resolve identically in every engine
    QueryDef("q50_argmax", (s, dir) => {
      val rank = dec2(col("o_totalprice")) * lit(10000000000L) + col("o_orderkey")
      Tables(s, dir).orders
        .groupBy(col("o_orderstatus"))
        .agg(
          max_by(col("o_orderkey"), rank).as("biggest_order"),
          min_by(col("o_orderkey"), rank).as("smallest_order"),
          max(dec2(col("o_totalprice"))).cast("double").as("max_price"))
    },
      oracle = Some("""SELECT o_orderstatus,
          | arg_max(o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) * 10000000000 + o_orderkey) AS biggest_order,
          | arg_min(o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) * 10000000000 + o_orderkey) AS smallest_order,
          | CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price
          |FROM orders GROUP BY o_orderstatus""".stripMargin)),

    // 51. running totals per key (cumulative window aggregation)
    QueryDef("q51_running_total", (s, dir) =>
      Tables(s, dir).orders
        .where(col("o_custkey") < 20)
        .select(col("o_custkey"), col("o_orderkey"),
          sum(dec2(col("o_totalprice")))
            .over(org.apache.spark.sql.expressions.Window
              .partitionBy(col("o_custkey"))
              .orderBy(col("o_orderdate"), col("o_orderkey"))
              .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))
            .cast("double").as("running_total")),
      oracle = Some("""SELECT o_custkey, o_orderkey,
          | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
          |   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
          |   AS running_total
          |FROM orders WHERE o_custkey < 20""".stripMargin)),

    // 52. histogram binning of a measure (explicit bin arithmetic —
    // engine-portable where width_bucket isn't)
    QueryDef("q52_histogram", (s, dir) =>
      Tables(s, dir).orders
        .groupBy(
          when(col("o_totalprice") < 0, 0L)
            .when(col("o_totalprice") >= 600000.0, 13L)
            .otherwise(floor(col("o_totalprice") / 50000.0) + 1)
            .cast("long").as("bucket"))
        .agg(count(lit(1)).as("n")),
      oracle = Some("""SELECT CASE WHEN o_totalprice < 0 THEN 0
          |  WHEN o_totalprice >= 600000.0 THEN 13
          |  ELSE CAST(floor(o_totalprice / 50000.0) AS BIGINT) + 1 END AS bucket,
          | COUNT(*) AS n
          |FROM orders GROUP BY 1""".stripMargin)),

    // 48. fuzzy (edit-distance) join via q-gram blocking + exact
    // Levenshtein — right side is a deterministically corrupted copy of
    // the nation names (3rd char dropped)
    QueryDef("q48_fuzzy_join", (s, dir) => {
      val n = Tables(s, dir).nation
      val corrupted = n.select(col("n_nationkey").as("c_key"),
        concat(substring(col("n_name"), 1, 2), substring(col("n_name"), 4, 1000))
          .as("c_name"))
      FuzzyJoin
        .byEditDistance(n, "n_nationkey", col("n_name"),
          corrupted, "c_key", col("c_name"), maxDist = 1)
        .groupBy(col("r_id"))
        .agg(count(lit(1)).as("n_matches"), min(col("l_id")).as("best_l_id"),
          min(col("dist")).as("best_dist"))
    },
      oracle = Some("""WITH l AS (SELECT n_nationkey AS lid, lower(n_name) AS ls FROM nation),
          |r AS (SELECT n_nationkey AS rid,
          |  lower(substr(n_name, 1, 2) || substr(n_name, 4)) AS rs FROM nation)
          |SELECT rid AS r_id, COUNT(*) AS n_matches, MIN(lid) AS best_l_id,
          | MIN(levenshtein(ls, rs)) AS best_dist
          |FROM r JOIN l ON levenshtein(ls, rs) <= 1
          |GROUP BY rid""".stripMargin)),

    // 44. semi-structured extraction: JSON payload parsed with an
    // EXPLICIT schema (schema inference is another full pass at 100 TB),
    // malformed payloads → null, aggregated per type
    QueryDef("q44_json_extract", (s, dir) =>
      Tables(s, dir).events
        .select(col("event_type"),
          from_json(col("props"), StructType(Seq(StructField("k", LongType))))
            .getField("k").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k")),
      oracle = Some("""SELECT event_type, COUNT(*) AS n,
          | CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
          | MIN(CAST(props->>'$.k' AS BIGINT)) AS min_k,
          | MAX(CAST(props->>'$.k' AS BIGINT)) AS max_k
          |FROM events GROUP BY event_type""".stripMargin)),

    // 37d. per-group fixed-n sampling: exactly min(k, |group|) rows per
    // priority by deterministic hash order (WindowGroupLimit — map-side
    // partial top-k before the exchange)
    QueryDef("q82_group_sample", (s, dir) =>
      Sampling.perGroup(Tables(s, dir).orders
          .select(col("o_orderpriority"), col("o_orderkey")),
        "o_orderkey", col("o_orderpriority"), k = 20)
        .select("o_orderpriority", "sample_rank", "o_orderkey"),
      oracle = Some("""SELECT o_orderpriority, CAST(rnk AS BIGINT) AS sample_rank,
          |  o_orderkey
          |FROM (
          |  SELECT o_orderpriority, o_orderkey,
          |    row_number() OVER (PARTITION BY o_orderpriority
          |      ORDER BY hash(o_orderkey) >> 1, o_orderkey) AS rnk
          |  FROM orders
          |) WHERE rnk <= 20""".stripMargin)),

    // 39b. CDC changelog apply (MERGE INTO analog): ordered I/U/D stream
    // merged into a snapshot in ONE key shuffle (max_by, no window sort)
    QueryDef("q61_cdc_merge", (s, dir) => {
      val t = Tables(s, dir)
      val snap = t.customer.select(col("c_custkey"), col("c_mktsegment"))
      CdcMerge(snap, cdcFixture(t), "c_custkey", "seq", "op",
        Seq("c_mktsegment"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), min(col("c_custkey")).as("min_key"),
          max(col("c_custkey")).as("max_key"))
    },
      oracle = Some("""WITH chg AS (
          |  SELECT c_custkey, 1 AS seq, 'U' AS op, 'UPGRADED' AS seg
          |  FROM customer WHERE c_custkey % 4 = 1
          |  UNION ALL SELECT c_custkey, 2, 'U', 'FINAL'
          |  FROM customer WHERE c_custkey % 4 = 1
          |  UNION ALL SELECT c_custkey, 1, 'D', NULL
          |  FROM customer WHERE c_custkey % 4 = 2
          |  UNION ALL SELECT c_custkey, 1, 'U', 'TOUCHED'
          |  FROM customer WHERE c_custkey % 4 = 3
          |  UNION ALL SELECT c_custkey + 10000000, 1, 'I', 'NEWSEG'
          |  FROM customer WHERE c_custkey % 4 = 0
          |), allr AS (
          |  SELECT c_custkey, CAST(-9223372036854775808 AS BIGINT) AS seq,
          |    'S' AS op, c_mktsegment AS seg FROM customer
          |  UNION ALL SELECT c_custkey, CAST(seq AS BIGINT), op, seg FROM chg
          |), w AS (
          |  SELECT c_custkey, seg, op,
          |    row_number() OVER (PARTITION BY c_custkey ORDER BY seq DESC) AS rn
          |  FROM allr
          |)
          |SELECT seg AS c_mktsegment, COUNT(*) AS n,
          |  MIN(c_custkey) AS min_key, MAX(c_custkey) AS max_key
          |FROM w WHERE rn = 1 AND op <> 'D' GROUP BY 1""".stripMargin)),

    // 33b. Bloom-filter semi-join reduction: the fact scan pre-filters
    // through a literal Bloom sketch of the selective dim keys before the
    // shuffle join; result provably equals the plain join, which is what
    // the oracle checks (the q34 salted-join proof pattern)
    QueryDef("q67_bloom_join", (s, dir) => {
      val t = Tables(s, dir)
      val dim = t.orders
        .where(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderstatus") === "F")
        .select("o_orderkey")
      BloomSemiJoin.filtered(t.lineitem, dim, "l_orderkey", "o_orderkey")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), xsum(col("l_quantity")).as("sum_qty"))
    },
      // q67: the oracle is the PLAIN join — equality proves the Bloom
      // pre-filter dropped only non-matching rows (no false negatives)
      oracle = Some("""SELECT l_returnflag, COUNT(*) AS n,
          | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
          |GROUP BY l_returnflag""".stripMargin)),

    // 40. binned point-in-interval range join — oracled against a DuckDB
    // inequality join
    QueryDef("q40_range_join", (s, dir) => {
      val t = Tables(s, dir)
      val bands = priceBands(s)
      RangeJoin
        .pointInInterval(t.orders, bands, col("o_totalprice"),
          col("band_lo").cast("double"), col("band_hi").cast("double"),
          binWidth = 50000L)
        .groupBy(col("band_id"))
        .agg(count(lit(1)).as("n"), xsum(col("o_totalprice")).as("total"))
    },
      oracle = Some("""WITH bands(band_id, band_lo, band_hi) AS (
          |  SELECT i, i * 50000.0, (i + 1) * 50000.0
          |  FROM generate_series(0, 11) AS t(i)
          |  UNION ALL SELECT 100, 100000.0, 400000.0
          |)
          |SELECT band_id, COUNT(*) AS n,
          | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM orders JOIN bands
          |  ON o_totalprice >= band_lo AND o_totalprice < band_hi
          |GROUP BY band_id""".stripMargin))
  )
}
