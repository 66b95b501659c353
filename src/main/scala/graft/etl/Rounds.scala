package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The round loop of graft's iterative builders — the ONE place a
  * builder's rounds are stored, stopped and freed.
  *
  * Round k+1 = `step(round k, k)`, stored eagerly at `level` as a
  * [[Store.snapshot]], so the plan never grows with the round count. The stop
  * test then runs while round k is still stored, and round k is freed
  * after it (safe: the checkpoint cut round k+1's lineage to it). The
  * caller's initial frame is never freed — it may be a lazy plan over the
  * caller's stored frames, or a table the caller shares; with `storeInit`
  * the loop stores `init` as round 0 itself and frees that copy.
  */
object Rounds {

  /** The last round (`init` if none ran), rounds run, stop test fired. */
  final case class Result(last: DataFrame, rounds: Int, stopped: Boolean)

  /** Run at most `maxRounds` rounds of `step` from `init`. `stop(next,
    * prev, k)` ends the loop after round k+1 (`next`) when it returns
    * true; `prev` is round k, still stored.
    */
  def run(init: DataFrame, maxRounds: Int,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
      storeInit: Boolean = false,
      stop: (DataFrame, DataFrame, Int) => Boolean = (_, _, _) => false)(
      step: (DataFrame, Int) => DataFrame): Result = {
    require(maxRounds >= 0, s"maxRounds must be >= 0, got $maxRounds")
    var cur = if (storeInit) Store.snapshot(init, level) else init
    var k = 0
    var stopped = false
    while (k < maxRounds && !stopped) {
      val next = Store.snapshot(step(cur, k), level)
      stopped = stop(next, cur, k)
      if (!(cur eq init)) Store.free(cur)
      cur = next
      k += 1
    }
    Result(cur, k, stopped)
  }
}
