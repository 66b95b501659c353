package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** A closed timed region: name, start, end and the span that opened it. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long,
    endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the harness's calls into graft. Each span tags the Spark
  * jobs started inside it with `setJobGroup("span-<id>")`, so engine
  * counters can be attributed to it. The disabled tracer runs the body
  * and records nothing. A traced pass is not the untraced pass plus
  * spans: it also stores and counts each stage's output so the stage's
  * work lands in its span (see each workload), and that extra work is
  * part of the measured tracing overhead. Spans named `trace.*` hold
  * the traced pass's own bookkeeping.
  */
class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val closed = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"span-$p", "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      closed += Span(id, name, parent, t0, t1)
    }
  }

  def spans: Seq[Span] = closed.toSeq

  /** Span duration minus the durations of its direct children. */
  def selfSeconds(s: Span): Double =
    s.seconds - closed.filter(_.parent == s.id).map(_.seconds).sum
}

/** Engine counters, summed over the tasks/jobs/queries attributed to it. */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskMs, gcMs, shuffleWrite, shuffleRead, spillMemory, spillDisk,
      scanBytes = 0L
  var analysisMs, optimizationMs, planningMs, singlePartitionExchanges = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskMs += o.taskMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spillMemory += o.spillMemory; spillDisk += o.spillDisk
    scanBytes += o.scanBytes
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs
    planningMs += o.planningMs
    singlePartitionExchanges += o.singlePartitionExchanges
  }
}

/** A SparkListener plus a QueryExecutionListener that the harness
  * registers itself. Events arrive on the listener bus; [[drain]] waits
  * for the bus and hands back everything seen since the previous drain,
  * with per-group counters (group = the span's job group) and the task
  * intervals the serial-tail measure needs.
  */
final class EngineProbe(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private final case class TaskRec(stage: Int, launch: Long, finish: Long,
      c: Counters)
  private val jobs = new ConcurrentLinkedQueue[String]()
  private val stages = new ConcurrentLinkedQueue[Int]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val queries = new ConcurrentLinkedQueue[(Long, Counters)]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val execGroup = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, group))
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => execGroup.put(id.toLong, group))
    jobs.add(group)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add(e.stageInfo.stageId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = new Counters
    c.tasks = 1
    c.taskMs = e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      c.gcMs = m.jvmGCTime
      c.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead = m.shuffleReadMetrics.totalBytesRead
      c.spillMemory = m.memoryBytesSpilled
      c.spillDisk = m.diskBytesSpilled
      c.scanBytes = m.inputMetrics.bytesRead
    }
    tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime, c))
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val c = new Counters
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    c.analysisMs = ms("analysis")
    c.optimizationMs = ms("optimization")
    c.planningMs = ms("planning")
    c.singlePartitionExchanges = singlePartitionExchanges(qe.executedPlan)
    queries.add((qe.id, c))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  private def singlePartitionExchanges(p: SparkPlan): Long = {
    val here = p match {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => 1L
      case _ => 0L
    }
    val below = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case other => other.children ++ other.subqueries
    }
    here + below.map(singlePartitionExchanges).sum
  }

  /** Everything observed since the last drain. */
  final class Batch(val byGroup: Map[String, Counters],
      val intervals: Seq[(Long, Long)]) {
    def total: Counters = {
      val t = new Counters
      byGroup.values.foreach(t.add)
      t
    }
    def group(g: String): Counters = byGroup.getOrElse(g, new Counters)
  }

  def drain(): Batch = {
    org.apache.spark.BenchBus.waitUntilEmpty(spark.sparkContext)
    val acc = mutable.Map[String, Counters]()
    def of(g: String) = acc.getOrElseUpdate(g, new Counters)
    def poll[T](q: ConcurrentLinkedQueue[T]): Seq[T] =
      Iterator.continually(q.poll()).takeWhile(_ != null).toSeq
    poll(jobs).foreach(g => of(g).jobs += 1)
    poll(stages).foreach(s => of(stageGroup.getOrDefault(s, "")).stages += 1)
    val ts = poll(tasks)
    ts.foreach(t => of(stageGroup.getOrDefault(t.stage, "")).add(t.c))
    poll(queries).foreach { case (id, c) =>
      of(execGroup.getOrDefault(id, "")).add(c)
    }
    new Batch(acc.toMap, ts.map(t => (t.launch, t.finish)))
  }
}

object EngineProbe {

  /** Wall milliseconds inside [from, to] during which at most one task
    * was running (the serial tail: planning, eager collects and single-task
    * stages).
    */
  def serialTailMs(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val events = intervals.flatMap { case (a, b) =>
      val s = math.max(a, from)
      val e = math.min(b, to)
      if (e > s) Seq((s, 1), (e, -1)) else Nil
    }.sortBy(x => (x._1, x._2))
    var running = 0
    var last = from
    var serial = 0L
    events.foreach { case (t, d) =>
      if (running <= 1) serial += t - last
      running += d
      last = t
    }
    serial + (to - last)
  }
}
