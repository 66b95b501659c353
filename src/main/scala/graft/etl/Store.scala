package graft.etl

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.storage.StorageLevel

/** How graft holds an intermediate frame — the ONE place a frame is
  * stored or freed. Three kinds, each with its own trade:
  *
  *  - `snapshot`: eager and lineage-cut (a local checkpoint). The plan
  *    above it is one scan, and it never re-runs its input; a lost block
  *    cannot be recomputed.
  *  - `leaf`: a plan leaf that keeps its lineage
  *    (`GraftSqlBridge.persistAsLeaf`). One scan node in every plan above
  *    it; under adaptive execution building it runs the shuffle stages
  *    beneath it, and its last stage stores at the first action.
  *  - `cache`: a lazy `persist` (an `InMemoryRelation`): nothing runs
  *    until the first action, and every plan above it keeps the whole
  *    cached plan.
  *
  * [[free]] releases any of them. [[scoped]] gives the frames a builder
  * needs only while it runs one lifetime: everything stored through the
  * scope is freed when the body returns or throws. A frame the builder
  * returns is stored through `Store` itself, outside the scope, and is
  * the caller's to free.
  */
object Store extends StoreKinds {

  /** Stored through `Store` itself, a frame is the caller's to free. */
  protected def hold(df: DataFrame): DataFrame = df

  /** Free the storage under `df`'s plan, whichever kind: its cache
    * entry, or else every stored leaf and cache entry it reads. Freeing
    * a snapshot is final: only free it once every frame that reads it
    * has run. A freed leaf or cache recomputes from its lineage, so it
    * stays readable only while that lineage reaches no freed snapshot:
    * a leaf built on a snapshot freed with it (say, in the same scope)
    * is invalid once freed, and reads only while Spark still holds the
    * shuffle outputs above the snapshot.
    */
  def free(df: DataFrame): Unit = GraftSqlBridge.free(df)

  /** A lifetime for stored frames: [[close]] frees, newest first, every
    * frame stored or [[own]]ed through it. Use [[scoped]], or a
    * `new Scope` when the frames outlive the call that stores them (the
    * owner closes it, as `Pipeline.CorpusPrep.release` does).
    */
  final class Scope extends StoreKinds {
    private val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    protected def hold(df: DataFrame): DataFrame = { held += df; df }

    /** Hand `df`, stored elsewhere (say, the last round of [[Rounds]]),
      * to this scope: [[close]] frees the storage under it.
      */
    def own(df: DataFrame): DataFrame = hold(df)

    /** The frames this scope holds, in the order they were stored. */
    def frames: Seq[DataFrame] = held.toSeq

    /** Free everything this scope holds. */
    def close(): Unit = { held.reverseIterator.foreach(free); held.clear() }
  }

  /** Run `body` with a scope that is closed when it returns or throws. */
  def scoped[A](body: Scope => A): A = {
    val s = new Scope
    try body(s) finally s.close()
  }
}

/** The three kinds of stored frame; `hold` decides who frees it. */
sealed abstract class StoreKinds {
  protected def hold(df: DataFrame): DataFrame

  /** `df` stored at `level` now, its lineage cut. */
  def snapshot(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    hold(df.localCheckpoint(true, level))

  /** `df` stored behind one plan leaf that keeps its lineage. */
  def leaf(df: DataFrame): DataFrame =
    hold(GraftSqlBridge.persistAsLeaf(df, StorageLevel.MEMORY_AND_DISK))

  /** `df` cached by the first action that reads it. */
  def cache(df: DataFrame): DataFrame =
    hold(df.persist(StorageLevel.MEMORY_AND_DISK))
}
