package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.etl._
import graft.sources.GraftCsv
import graft.validation._

/** The reference's monthly permits DAG, run for three consecutive exec
  * dates (one full load, two incremental windows) into a fresh
  * month-partitioned sink per pass. One operation = one exec date:
  *
  *   ZIP/CSV ingest → expectation suite → TERC correction → 3m/2m/1m
  *   windowed pivot (de-Romanized) → dimension alignment → month upsert
  */
final class Permits(spark: SparkSession, input: String, work: String)
    extends Workload {

  private val truth = Truth.load(input)
  private val columns = truth.strings("permit_columns")
  private val romans = truth.strings("romans")
  private val pivotRomans = truth.strings("pivot_romans")
  private val rodzaj = truth.strings("rodzaj")
  private val voivodeships = truth.strings("voivodeships")
  val execDates: Seq[String] = truth.strings("exec_dates")
  private val dateCol = "data_wplywu_wniosku_do_urzedu"
  private val schema = StructType(columns.map(c =>
    StructField(c, if (c == "kubatura") DoubleType else StringType)))
  private val zip = s"$input/permits.zip"
  private var dim: DataFrame = _

  private val expectations = Seq(
    NotNull("date_parses", col(dateCol), mostlyPct = 90),
    InSet("kategoria_roman", col("kategoria"), romans, mostlyPct = 95),
    MatchRegex("terc_digits", col("terc"), "^[0-9]{6,7}$", mostlyPct = 85),
    InSet("rodzaj_known", col("rodzaj_zam_budowlanego"), rodzaj,
      mostlyPct = 95))

  // outputs kept for the checks: per pass, per exec date
  private val reports = mutable.ArrayBuffer[Seq[Row]]()
  private val aligned = mutable.ArrayBuffer[Seq[Row]]()
  private val sinks = mutable.ArrayBuffer[String]()
  // traced-pass counters, per pass
  private val layerVals = mutable.Map[String, Double]()

  def records: Long = truth.long("records")
  def inputBytes: Long = truth.long("csv_bytes")
  def opsPerPass: Int = execDates.size

  def prepare(): Unit = {
    dim = spark.read.parquet(s"$input/powiaty.parquet")
    dim.schema
  }

  private def materialize(t: Tracer, df: DataFrame): DataFrame =
    if (t.enabled) { val p = df.persist(StorageLevel.MEMORY_AND_DISK); p.count(); p }
    else df

  private def tally(t: Tracer, key: String, v: => Long): Unit =
    if (t.enabled) layerVals(key) = layerVals.getOrElse(key, 0.0) + v

  def pass(k: Int, t: Tracer): PassResult = {
    layerVals.clear()
    val sink = s"$work/sink-$k"
    sinks += sink
    val lat = execDates.map { d =>
      val t0 = System.nanoTime()
      runDate(t, d, sink)
      (System.nanoTime() - t0) / 1e9
    }
    PassResult(lat, 0)
  }

  /** One exec date: the six stages, each in its own span. */
  def runDate(t: Tracer, execDate: String, sink: String): Unit = {
    val anchor = to_date(lit(execDate))
    val raw = t.span("sources.read_zip") {
      materialize(t, GraftCsv.readZip(spark, zip, schema, "#",
        timestampCols = Seq(dateCol)))
    }
    t.span("trace.tally") {
      tally(t, "sources.read_zip.rows", raw.count())
      tally(t, "sources.read_zip.corrupt_rows",
        raw.where(col(GraftCsv.CorruptCol).isNotNull).count())
    }
    val good = GraftCsv.goodRecords(raw)

    val report = t.span("validation.validate") {
      Validator.validate(good, expectations).collect().toSeq
    }

    val corrected = t.span("etl.code_correction") {
      materialize(t, correct(good))
    }
    if (t.enabled) t.span("trace.tally") {
      def empty(c: String) = col(c).isNull || length(trim(col(c))) === 0
      tally(t, "etl.code_correction.lookup_rows",
        good.where(empty("terc") && empty("jednostki_numer")).count())
      tally(t, "etl.code_correction.rows_dropped",
        good.count() - corrected.count())
    }

    val agg = t.span("etl.window_pivot") {
      val windows = WindowedCounts.monthWindowCounts(corrected, col(dateCol),
        anchor, Seq(3, 2, 1), Seq("unit_id"))
      val pivots = Seq(3, 2, 1).map { m =>
        val inWindow = corrected.where(col(dateCol) >= add_months(anchor, -m) &&
          col(dateCol) < anchor)
        val p = PivotAggregates.countPivot2(inWindow, "unit_id",
          "rodzaj_zam_budowlanego", rodzaj, "kategoria", pivotRomans)
        p.select(p.columns.map(c =>
          if (c == "unit_id") col(c) else col(c).as(s"${c}_${m}m")): _*)
      }
      materialize(t, pivots.foldLeft(windows)((acc, p) =>
        acc.join(p, Seq("unit_id"), "left")).na.fill(0L))
    }

    val rows = t.span("etl.dim_align") {
      val matched = DimAlign.keepMatched(agg, dim, "unit_id", "powiat_code")
      DimAlign.zeroFill(dim, matched, "powiat_code", "unit_id",
        agg.columns.filter(_ != "unit_id").toSeq).collect().toSeq
    }

    val before =
      if (t.enabled) t.span("trace.tally") { listFiles(sink) }
      else Map.empty[String, Long]
    t.span("etl.sink") {
      IncrementalPipeline.run(spark, corrected, dateCol, "code", sink, anchor)
    }
    if (t.enabled) t.span("trace.tally") {
      val after = listFiles(sink)
      val fresh = after.filter { case (f, _) => !before.contains(f) }
      tally(t, "etl.sink.files_written", fresh.size.toLong)
      tally(t, "etl.sink.bytes_written", fresh.values.sum)
      val touched = fresh.keys.map(f => Paths.get(f).getParent.toString).toSet
      // the full load touches every month; report the incremental ones
      if (execDate != execDates.head) layerVals("etl.sink.partitions_touched") =
        math.max(layerVals.getOrElse("etl.sink.partitions_touched", 0.0),
          touched.size.toDouble)
      if (execDate == execDates.last) layerVals("etl.sink.bytes_per_input_byte") =
        after.values.sum.toDouble / inputBytes
      Seq(raw, corrected, agg).foreach(_.unpersist())
    }
    reports += report
    aligned += rows
  }

  /** TERC cleanse: fill, pad, prefix-check, drop invalid; then the
    * powiat unit the aggregates group by.
    */
  private def correct(good: DataFrame): DataFrame =
    CodeCorrection.dropInvalid(
      CodeCorrection.classifyWithLookup(good,
        pkCol = "numer_ewidencyjny_system", codeCol = col("terc"),
        fallback = substring(col("jednostki_numer"), 1, 7),
        placeCol = col("miasto"), dim = dim, dimNameCol = "powiat_name",
        dimCodeCol = "seat_terc", width = 7, prefixLen = 2,
        validPrefixes = voivodeships))
      .withColumn("unit_id", substring(col("code"), 1, 4))

  /** Data files (not Spark's markers) under `dir`, with their sizes. */
  private def listFiles(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return Map.empty
    val s = Files.walk(root)
    try s.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(p => p.toString -> Files.size(p)).toMap
    finally s.close()
  }

  def layers(t: Tracer, probe: EngineProbe#Batch): Map[String, Double] = {
    def spanS(name: String) = t.spans.filter(_.name == name).map(_.seconds).sum
    def jobs(name: String) = t.spans.filter(_.name == name)
      .map(s => probe.group(s"span-${s.id}").jobs).sum.toDouble
    Map(
      "sources.read_zip.s" -> spanS("sources.read_zip"),
      "validation.validate.s" -> spanS("validation.validate"),
      "validation.validate.jobs" -> jobs("validation.validate"),
      "etl.code_correction.s" -> spanS("etl.code_correction"),
      "etl.window_pivot.s" -> spanS("etl.window_pivot"),
      "etl.dim_align.s" -> spanS("etl.dim_align"),
      "etl.sink.s" -> spanS("etl.sink")) ++ layerVals
  }

  def checks(): Seq[Check] = {
    val out = mutable.ArrayBuffer[Check]()
    val n = execDates.size
    val v = truth.obj("validation")
    val expectedPass = Map(
      "date_parses" -> v("date_parses"), "kategoria_roman" -> v("kategoria_roman"),
      "terc_digits" -> v("terc_digits"), "rodzaj_known" -> v("rodzaj_known"))
    reports.zipWithIndex.foreach { case (rep, i) =>
      val got = rep.map(r => r.getAs[String]("expectation") ->
        r.getAs[Long]("n_pass").toString).toMap
      val rowsOk = rep.forall(_.getAs[Long]("n_rows").toString == v("n_rows"))
      out += Check(s"validation[$i]", rowsOk && got == expectedPass, 1,
        s"got $got")
    }
    val piv = truth.dateMaps("pivot_totals")
    val win = truth.dateMaps("window_counts")
    val dimRows = truth.long("dim_rows")
    aligned.zipWithIndex.foreach { case (rows, i) =>
      val d = i % n
      val bad = for {
        r <- rows
        unit = r.getAs[String]("powiat_code")
        m <- Seq(3, 2, 1)
        key = s"$unit|$m"
        cells = r.schema.fieldNames.filter(f =>
          f.startsWith("cnt_") && f.endsWith(s"_${m}m") && f != s"cnt_${m}m")
        total = cells.map(f => r.getAs[Long](f)).sum
        windowed = r.getAs[Long](s"cnt_${m}m")
        if total != piv(d).getOrElse(key, 0L) || windowed != win(d).getOrElse(key, 0L)
      } yield s"$key: cells $total/${piv(d).getOrElse(key, 0L)} " +
        s"window $windowed/${win(d).getOrElse(key, 0L)}"
      out += Check(s"pivot_totals[$i]", rows.size == dimRows && bad.isEmpty, 1,
        s"rows=${rows.size} mismatches=${bad.size} ${bad.take(3).mkString("; ")}")
    }
    val months = truth.obj("sink_months").map { case (k, x) => k -> x.toLong }
    sinks.foreach { s =>
      val got = monthCounts(s)
      out += Check(s"sink_months[$s]", got == months, n,
        s"months=${got.size} rows=${got.values.sum} want ${months.values.sum}")
    }
    val raw = GraftCsv.readZip(spark, zip, schema, "#",
      timestampCols = Seq(dateCol)).persist(StorageLevel.MEMORY_AND_DISK)
    val corrupt = raw.where(col(GraftCsv.CorruptCol).isNotNull).count()
    raw.unpersist()
    out += Check("corrupt_rows", corrupt == truth.long("corrupt"), n,
      s"corrupt=$corrupt")
    // planted invalid codes never reach the sink
    val last = spark.read.parquet(sinks.last)
    val invalid = last.where(!substring(col("code"), 1, 2).isin(voivodeships: _*) ||
      col("code").isNull).count()
    out += Check("invalid_codes_dropped", invalid == 0, n, s"invalid=$invalid")
    // a retried exec date leaves the sink unchanged
    val before = sinkDigest(sinks.last)
    val good = GraftCsv.goodRecords(GraftCsv.readZip(spark, zip, schema, "#",
      timestampCols = Seq(dateCol)))
    IncrementalPipeline.run(spark, correct(good), dateCol, "code", sinks.last,
      to_date(lit(execDates.last)))
    val after = sinkDigest(sinks.last)
    out += Check("retry_idempotent", before == after, n, s"$before vs $after")
    out.toSeq
  }

  private def monthCounts(path: String): Map[String, Long] =
    spark.read.parquet(path).groupBy("p_month").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  private def sinkDigest(path: String): (Long, Long) = {
    val df = spark.read.parquet(path)
    val r = df.agg(count(lit(1)),
      sum(pmod(xxhash64(df.columns.map(col): _*), lit(1000000007L)))).head()
    (r.getLong(0), r.getLong(1))
  }
}
