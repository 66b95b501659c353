package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.storage.StorageLevel

/** Bridge into the `private[sql]` Column↔Expression converters and plan
  * leaves. Spark 4 routes Column construction through ColumnNodes; this
  * is the classic (non-Connect) conversion path, exposed for graft's
  * native expressions. The same pattern every Catalyst-extension library
  * uses. It also builds and frees [[execution.LogicalRDD]] leaves: the
  * stored stage frames of [[graft.Pipeline]] and the eagerly
  * checkpointed rounds of [[graft.etl.Rounds]].
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `df` stored at `level` behind a single plan leaf: a
    * [[execution.LogicalRDD]] over the persisted rows of `df`'s physical
    * plan, carrying its origin statistics and output partitioning — what
    * `localCheckpoint` returns, without truncating the lineage.
    *
    * Why not `df.persist`: a persisted frame is an `InMemoryRelation`
    * that keeps its whole cached plan, and every query over it renders
    * and re-analyses that plan — for a chain of persisted stages, each
    * stage's plan nested inside the next. Plan rendering (the SQL
    * execution-start event and AQE's per-stage plan update) then
    * dominates the driver. A leaf frame renders as one scan node.
    *
    * Why not `localCheckpoint`: the leaf's RDD keeps its lineage, so a
    * lost block recomputes from the upstream shuffle output instead of
    * failing the job.
    *
    * Building the leaf compiles `df`'s physical plan; under adaptive
    * execution that also RUNS its upstream shuffle stages, so the leaf is
    * partly eager. Its last stage runs, and stores, at the first action
    * that reads the leaf. `Dataset.unpersist` does not reach the stored
    * RDD (the leaf is not in the cache manager): free it with
    * [[unpersistCheckpoints]].
    */
  def persistAsLeaf(df: Dataset[_], level: StorageLevel): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    classic.Dataset.ofRows(ds.sparkSession, execution.LogicalRDD.fromDataset(
      ds.queryExecution.toRdd.map(_.copy()).persist(level), ds,
      ds.isStreaming))
  }

  /** Release the block-manager storage behind [[execution.LogicalRDD]]
    * leaves — a `localCheckpoint(true)`d frame or a [[persistAsLeaf]]
    * frame: walk the analyzed plan for its leaves and unpersist their
    * RDDs (non-blocking). An eager local checkpoint truncates lineage, so
    * its blocks are NOT recoverable — callers must only release a
    * checkpointed frame once every consumer that reads it has already
    * materialized. [[graft.etl.Rounds]] is the round policy of graft's
    * iterative builders built on this. A released leaf frame stays
    * readable: its rows recompute from lineage.
    */
  def unpersistCheckpoints(df: Dataset[_]): Unit =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed.foreach {
      case l: execution.LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
