package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Outcome of one closed-loop pass: the latency of each operation in it
  * and how many of its operations threw.
  */
final case class PassResult(ops: Seq[Double], failed: Int)

/** An output check made after the timed section. `ops` is how many
  * operations a mismatch marks as failed.
  */
final case class Check(name: String, ok: Boolean, ops: Int, detail: String = "")

trait Workload {
  /** Work a user pays once before the first call into graft: reading the
    * inputs' metadata. Billed to set-up, not to the timed section.
    */
  def prepare(): Unit

  /** Untimed work after set-up and before the first timed call. */
  def warmUp(): Unit = ()

  /** Operations one pass attempts. */
  def opsPerPass: Int

  /** True when the workload is one pass by construction. */
  def singlePass: Boolean = false

  /** One pass. With an enabled tracer it opens a span per stage and
    * materializes each stage's output, so the stage's work lands in it.
    */
  def pass(k: Int, t: Tracer): PassResult

  /** Per-layer values of a traced pass, from its spans and counters. */
  def layers(t: Tracer, probe: EngineProbe#Batch): Map[String, Double]

  /** Output checks over everything the passes produced. */
  def checks(): Seq[Check]

  def records: Long
  def inputBytes: Long
}

/** Harness entry point: one workload, one JVM, one SparkSession.
  *
  *   graftbench.Main --workload <name> --input <dir> --out <result.json>
  *     --work <scratch dir> --seconds <s> --trace <0|1> --cores <n>
  *     [--setup-only 1] [--queries q1,q2,...] [--warmup q1,q2,...]
  *
  * Writes one JSON result file; perfbench/run.py
  * turns it into metrics.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val work = opt("work")
    val cores = opt("cores").toInt
    val trace = opt.get("trace").contains("1")
    val loadStart = loadavg()

    val s0 = System.nanoTime()
    val spark = graft.GraftSession.builder(cores)
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - s0) / 1e9
    val probe = if (trace) Some(new EngineProbe(spark)) else None

    val input = opt("input")
    val wl: Workload = opt("workload") match {
      case "permits_monthly" => new Permits(spark, input, work)
      case "corpus_funnel" => new Corpus(spark, input)
      case "operator_sweep" =>
        new Sweep(spark, input, work, opt("queries").split(',').toSeq,
          opt.get("warmup").toSeq.flatMap(_.split(',')))
    }
    wl.prepare()
    val ready = epochSeconds()
    val out = mutable.LinkedHashMap[String, Any](
      "ready_epoch" -> ready, "session_s" -> sessionS,
      "loadavg_start" -> loadStart)
    if (opt.get("setup-only").contains("1")) {
      finish(spark, opt("out"), out)
      return
    }
    wl.warmUp()
    probe.foreach(_.drain())

    val seconds = opt("seconds").toDouble
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    var attempted, failed = 0
    var k = 0
    // a traced run needs a traced pass, and a plain one after the JVM's
    // cold first pass to measure the tracing overhead against
    val minPasses = if (trace && !wl.singlePass) 3 else 1
    while (k < minPasses || (!wl.singlePass && System.nanoTime() < deadline)) {
      // traced runs alternate plain and traced passes, so the tracing
      // overhead is measured in the same process
      val traced = trace && (wl.singlePass || k % 2 == 1)
      val tracer = new Tracer(spark, traced)
      val cpu0 = cpuSeconds()
      val t0 = System.nanoTime()
      val r =
        try tracer.span("run") { wl.pass(k, tracer) }
        catch { case e: Throwable =>
          System.err.println(s"[perfbench] pass $k failed: $e")
          e.printStackTrace()
          PassResult(Nil, wl.opsPerPass)
        }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = cpuSeconds() - cpu0
      attempted += r.ops.size + r.failed
      failed += r.failed
      val rec = mutable.LinkedHashMap[String, Any]("wall" -> wall,
        "cpu" -> cpu, "ops" -> r.ops, "failed" -> r.failed, "traced" -> traced)
      probe.foreach { p =>
        val batch = p.drain()
        if (traced) {
          val root = tracer.spans.find(_.parent == -1).get
          rec("layers") = engineLayers(batch, root, cores) ++
            wl.layers(tracer, batch)
          rec("spans") = tracer.spans.sortBy(_.startNs).map { s =>
            Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
              "start_s" -> (s.startNs - root.startNs) / 1e9,
              "end_s" -> (s.endNs - root.startNs) / 1e9,
              "self_s" -> tracer.selfSeconds(s))
          }
        }
      }
      passes += rec.toMap
      spark.catalog.clearCache()
      k += 1
    }
    out("peak_rss_mb") = peakRssMb()
    out("loadavg_end") = loadavg()
    out("passes") = passes
    out("records") = wl.records
    out("input_bytes") = wl.inputBytes

    val checks =
      try wl.checks()
      catch { case e: Throwable =>
        e.printStackTrace()
        Seq(Check("checks_ran", ok = false, attempted, e.toString))
      }
    out("checks") = checks.map(c =>
      Map("name" -> c.name, "ok" -> c.ok, "ops" -> c.ops, "detail" -> c.detail))
    out("attempted") = attempted
    out("failed") = math.min(attempted,
      failed + checks.filterNot(_.ok).map(_.ops).sum)
    finish(spark, opt("out"), out)
  }

  /** Writes the result, then halts: Spark's shutdown only cleans up
    * `spark.local.dir`, which run.py removes with the whole work dir.
    */
  private def finish(spark: SparkSession, path: String,
      out: collection.Map[String, Any]): Unit = {
    Files.writeString(Paths.get(path), Json(out))
    Runtime.getRuntime.halt(0)
  }

  /** Engine counters of one traced pass (root span = the whole pass). */
  private def engineLayers(b: EngineProbe#Batch, root: Span,
      cores: Int): Map[String, Double] = {
    val c = b.total
    val wallMs = (root.endNs - root.startNs) / 1e6
    // task intervals are epoch milliseconds; anchor the pass the same way
    val endMs = System.currentTimeMillis() -
      (System.nanoTime() - root.endNs) / 1000000L
    val startMs = endMs - wallMs.toLong
    Map(
      "catalyst.analysis_s" -> c.analysisMs / 1e3,
      "catalyst.optimization_s" -> c.optimizationMs / 1e3,
      "catalyst.planning_s" -> c.planningMs / 1e3,
      "exec.jobs" -> c.jobs.toDouble,
      "exec.stages" -> c.stages.toDouble,
      "exec.tasks" -> c.tasks.toDouble,
      "exec.task_s" -> c.taskMs / 1e3,
      "exec.par_eff" -> c.taskMs / (wallMs * cores),
      "exec.serial_tail_s" ->
        EngineProbe.serialTailMs(b.intervals, startMs, endMs) / 1e3,
      "exec.gc_s" -> c.gcMs / 1e3,
      "shuffle.write_bytes" -> c.shuffleWrite.toDouble,
      "shuffle.read_bytes" -> c.shuffleRead.toDouble,
      "storage.spill_disk_bytes" -> c.spillDisk.toDouble,
      "io.scan_bytes" -> c.scanBytes.toDouble,
      "plan.single_partition_exchanges" -> c.singlePartitionExchanges.toDouble)
  }

  private def epochSeconds(): Double = {
    val now = java.time.Instant.now()
    now.getEpochSecond + now.getNano / 1e9
  }

  private def read(path: String): String =
    try new String(Files.readAllBytes(Paths.get(path)))
    catch { case _: Throwable => "" }

  private def loadavg(): String = read("/proc/loadavg").trim

  /** Process user+sys CPU seconds from /proc/self/stat (clock ticks). */
  private def cpuSeconds(): Double = {
    val stat = read("/proc/self/stat")
    val fields = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
    // fields after the command name start at stat field 3
    (fields(11).toLong + fields(12).toLong) / 100.0
  }

  private def peakRssMb(): Double =
    read("/proc/self/status").linesIterator
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)
}
