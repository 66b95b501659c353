package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.storage.StorageLevel

/** Bridge into the `private[sql]` Column↔Expression converters and plan
  * leaves. Spark 4 routes Column construction through ColumnNodes; this
  * is the classic (non-Connect) conversion path, exposed for graft's
  * native expressions. The same pattern every Catalyst-extension library
  * uses. It also builds [[execution.LogicalRDD]] leaves and frees stored
  * frames for [[graft.etl.Store]], the one module that decides how graft
  * holds a frame; nothing else in graft calls [[persistAsLeaf]] or
  * [[free]].
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
    * RDD (the leaf is not in the cache manager): free it with [[free]].
    */
  def persistAsLeaf(df: Dataset[_], level: StorageLevel): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    classic.Dataset.ofRows(ds.sparkSession, execution.LogicalRDD.fromDataset(
      ds.queryExecution.toRdd.map(_.copy()).persist(level), ds,
      ds.isStreaming))
  }

  /** Release the storage under `df`'s plan, top down: a plan that is
    * cached is uncached (what `Dataset.unpersist` does) and not walked
    * further; a stored [[execution.LogicalRDD]] leaf — a local checkpoint
    * or a [[persistAsLeaf]] frame — has its RDD unpersisted. Non-blocking.
    * A checkpointed RDD is released through the context: its `unpersist`
    * would log, once per freed frame, that its lineage is cut — which for
    * a checkpoint is the point. A released leaf or cache entry
    * recomputes from lineage, which must not reach a freed checkpoint.
    */
  def free(df: Dataset[_]): Unit = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val spark = ds.sparkSession
    val (cache, sc) = (spark.sharedState.cacheManager, spark.sparkContext)
    def go(plan: LogicalPlan): Unit =
      if (!cache.isEmpty && cache.lookupCachedData(spark, plan).nonEmpty)
        cache.uncacheQuery(spark, plan, cascade = false, blocking = false)
      else plan match {
        case l: execution.LogicalRDD if sc.persistentRdds.contains(l.rdd.id) =>
          if (l.rdd.isCheckpointed) sc.unpersistRDD(l.rdd.id, blocking = false)
          else l.rdd.unpersist(blocking = false)
        case _ => plan.children.foreach(go)
      }
    go(ds.queryExecution.analyzed)
  }
}
