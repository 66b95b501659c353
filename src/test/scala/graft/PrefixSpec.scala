package graft

import graft.etl.Prefix
import org.apache.spark.sql.functions._

/** Prefix laws the consumers' oracles can't isolate: the grand totals
  * returned by withRankPrefixTotals equal the frame's own aggregates
  * (they come from the offset scan — r18's q160 reclaim reads them
  * instead of re-aggregating), and the reserved-name guard fails loudly
  * instead of silently corrupting a colliding input (ADVICE r17).
  */
class PrefixSpec extends SparkSpec {
  import spark.implicits._

  test("grand totals equal the frame's aggregates, ranks unchanged") {
    val df = (0 until 500).map { i =>
      val h = graft.functions.Hashing.murmur64(i.toLong)
      (i.toLong, h & 31L, (h >>> 8) & 255L)
    }.toDF("id", "k", "v")
    val r = Prefix.withRankPrefixTotals(df, Seq("k", "id"),
      Seq("v" -> "cum_v"))
    assert(r.totalCount === 500L)
    assert(r.totals("cum_v") ===
      df.agg(sum("v")).collect()(0).getLong(0))
    // idx is the 1-based global rank; cum_v the exclusive prefix
    val rows = r.df.orderBy("idx").collect()
    assert(rows.map(_.getAs[Long]("idx")).toSeq === (1L to 500L))
    val sorted = df.orderBy("k", "id").collect().map(_.getAs[Long]("v"))
    val expect = sorted.scanLeft(0L)(_ + _).init
    assert(rows.map(_.getAs[Long]("cum_v")).toSeq === expect.toSeq)
  }

  test("reserved-name collisions fail loudly, never corrupt") {
    val withPid = Seq((1L, 2L)).toDF("pid", "v")
    val e1 = intercept[IllegalArgumentException] {
      Prefix.withRankPrefixTotals(withPid, Seq("v"), Nil)
    }
    assert(e1.getMessage.contains("pid"))
    val withOff = Seq((1L, 2L)).toDF("x", "_off_cum")
    intercept[IllegalArgumentException] {
      Prefix.withRankPrefixTotals(withOff, Seq("x"), Seq("x" -> "cum"))
    }
    // an alias colliding with an input column is rejected too
    val dup = Seq((1L, 2L)).toDF("x", "y")
    intercept[IllegalArgumentException] {
      Prefix.withRankPrefixTotals(dup, Seq("x"), Seq("x" -> "y"))
    }
  }

  test("an empty input gives zero totals and an empty ranked frame") {
    val empty = Seq.empty[(Long, Long)].toDF("id", "v")
    val r = Prefix.withRankPrefixTotals(empty, Seq("id"),
      Seq("v" -> "cum_v"))
    assert(r.totalCount === 0L)
    assert(r.totals === Map("cum_v" -> 0L))
    assert(r.df.columns.toSeq === Seq("id", "v", "idx", "cum_v"))
    assert(r.df.isEmpty)
  }

  test("ntileBin equals SQL ntile for every total and bin count") {
    import org.apache.spark.sql.expressions.Window
    for (total <- Seq(0, 1, 2, 7, 9, 10, 11, 23); bins <- Seq(1, 3, 10)) {
      val ix = spark.range(1, total + 1).toDF("idx")
      val got = ix.select(col("idx"),
          Prefix.ntileBin(col("idx"), total.toLong, bins).as("b"))
        .orderBy("idx").collect().map(_.getLong(1)).toSeq
      val want = ix.select(ntile(bins).over(Window.orderBy("idx")))
        .collect().map(_.getInt(0).toLong).toSeq
      assert(got === want, s"total=$total bins=$bins")
    }
  }
}
