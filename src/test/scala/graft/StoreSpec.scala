package graft

import graft.etl.Store
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** `etl.Store`: the three kinds of stored frame, the one release, the
  * scoped lifetime — and the rule that nothing else in `src/main` stores
  * or frees a frame.
  */
class StoreSpec extends SparkSpec {

  import spark.implicits._

  private def sc = spark.sparkContext
  private def stored: Set[Int] = sc.getPersistentRDDs.keySet.toSet
  private def frame(n: Int): DataFrame =
    (1L to n.toLong).toDF("id").groupBy((col("id") % 3).as("k")).count()
  private def rddOf(df: DataFrame) =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }.head
  private def cached(df: DataFrame): Boolean = spark
    .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    .sharedState.cacheManager
    .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
    .nonEmpty

  test("a scope frees everything it stored when its body returns") {
    val before = stored
    val (snap, leaf, cache, rows) = Store.scoped { s =>
      val snap = s.snapshot(frame(30))
      val leaf = s.leaf(frame(31))
      val cache = s.cache(frame(32))
      val rows = snap.count() + leaf.count() + cache.count()
      assert((stored -- before).size == 3, "all three kinds are stored")
      (snap, leaf, cache, rows)
    }
    assert(rows == 9L)
    assert((stored -- before).isEmpty, s"left stored: ${stored -- before}")
    assert(!cached(cache), "the cache entry is dropped, not only its blocks")
    assert(leaf.count() == 3L, "a freed leaf recomputes from lineage")
  }

  test("a scope frees everything it stored when its body throws") {
    val before = stored
    var cache: DataFrame = null
    val thrown = intercept[IllegalStateException] {
      Store.scoped { s =>
        s.snapshot(frame(40))
        s.leaf(frame(41)).count()
        cache = s.cache(frame(42))
        cache.count()
        throw new IllegalStateException("builder failed")
      }
    }
    assert(thrown.getMessage == "builder failed")
    assert((stored -- before).isEmpty, s"left stored: ${stored -- before}")
    assert(!cached(cache))
  }

  test("a scoped snapshot is eager and lineage-cut; a returned one outlives the scope") {
    val before = stored
    val kept = Store.scoped { s =>
      val snap = s.snapshot(frame(50))
      val rdd = rddOf(snap)
      // a lazy checkpoint is not checkpointed until an action runs
      assert(rdd.isCheckpointed, "stored and lineage-cut when taken")
      assert(snap.queryExecution.analyzed.isInstanceOf[LogicalRDD] &&
        snap.queryExecution.analyzed.children.isEmpty, "one plan leaf")
      // the level `localCheckpoint(true)` stores at
      val plain = frame(50).localCheckpoint(true)
      assert(rdd.getStorageLevel == StorageLevel.MEMORY_AND_DISK &&
        rddOf(plain).getStorageLevel == StorageLevel.MEMORY_AND_DISK)
      Store.free(plain)
      Store.snapshot(snap.where(col("count") > 0L))
    }
    assert((stored -- before) == Set(rddOf(kept).id),
      "only the frame stored outside the scope stays")
    assert(kept.count() == 3L)
    Store.free(kept)
    assert((stored -- before).isEmpty)
  }

  test("free releases a leaf, a snapshot and a cache entry alike") {
    val before = stored
    val snap = Store.snapshot(frame(60))
    val leaf = Store.leaf(frame(61))
    val cache = Store.cache(frame(62))
    Seq(leaf, cache).foreach(_.count())
    assert((stored -- before).size == 3)
    Seq(snap, leaf, cache).foreach(Store.free)
    assert((stored -- before).isEmpty, s"left stored: ${stored -- before}")
    assert(!cached(cache))
    // freeing twice, or freeing a frame that stores nothing, is a no-op
    Seq(snap, frame(63)).foreach(Store.free)
  }

  test("free walks a derived frame's plan; freeing a cache leaves what it reads") {
    val before = stored
    val snap = Store.snapshot(frame(70))
    val leaf = Store.leaf(frame(71))
    val joined = snap.join(leaf, Seq("k"))
    val cache = Store.cache(joined.select(col("k")))
    cache.count()
    Store.free(cache)
    assert(stored.contains(rddOf(snap).id) && stored.contains(rddOf(leaf).id),
      "a cache entry's free must not reach the frames it was built from")
    Store.free(joined)
    assert((stored -- before).isEmpty, s"left stored: ${stored -- before}")
  }

  test("only etl.Store and the bridge store or free a frame in src/main") {
    val allowed = Seq("graft/etl/Store.scala",
      "org/apache/spark/sql/GraftSqlBridge.scala").map(Paths.get(_))
    val calls = Seq("localCheckpoint(", ".unpersist(", "unpersistCheckpoints",
      ".persist(", ".cache()", "persistAsLeaf(")
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(files.size > 50, s"scanned only ${files.size} files")
    val hits = for {
      f <- files if !allowed.exists(f.endsWith)
      (line, i) <- CodeScan.codeLines(f).zipWithIndex
      call <- calls if line.contains(call)
    } yield s"$f:${i + 1}: $call"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
