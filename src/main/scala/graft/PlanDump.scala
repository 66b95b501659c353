package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Plan-evidence dump: `.explain("formatted")` of named declared queries
  * written to one file per query, so optimization claims ("2 Exchange →
  * 1", "SortMergeJoin → BroadcastHashJoin") are checkable against a
  * committed artifact without running Spark (plans/r{N}/ in the repo).
  *
  * NOTE ON EAGER QUERIES: building some frames executes work up front —
  * q176 collects its per-probe single-row aggregates during
  * construction (its returned frame is a literal), and the ExactSubstr
  * family checkpoints its rank substrate eagerly — so their dumped
  * final plan is intentionally a LocalRelation / LogicalRDD scan; the
  * kernel shape for those lives in the per-round internals, which
  * [[graft.dedup.ExactSubstr.roundPlanForExplain]] exposes lazily for
  * exactly this purpose.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <q1,q2,...|exsub_round>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: PlanDump <sfDir> <outDir> <comma-separated names>")
    val sfDir = args(0)
    val outDir = Paths.get(args(1))
    Files.createDirectories(outDir)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = GraftSession.fromEnv()
    names.foreach { n =>
      val df =
        if (n == "exsub_round")
          graft.dedup.ExactSubstr.roundPlanForExplain(
            Tables(spark, sfDir).documents, "doc_id", "text")
        else if (n == "exsub_probe")
          graft.dedup.ExactSubstr.probePlanForExplain(
            Tables(spark, sfDir).documents, "doc_id", "text")
        else SparkEntry.queries(n)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        ExplainMode.fromString("formatted"))
      Files.write(outDir.resolve(s"$n.txt"),
        plan.getBytes(StandardCharsets.UTF_8))
      System.err.println(s"[plandump] wrote $n (${plan.length} chars)")
    }
    spark.stop()
  }
}
