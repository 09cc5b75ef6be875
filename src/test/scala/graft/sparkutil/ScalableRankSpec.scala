package graft.sparkutil

import graft.SparkSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** ScalableRank replaces unpartitioned `Window.orderBy` ranks/ntiles
  * (Exchange SinglePartition at scale) in q_window_rfm and
  * q_scale_range_partition — so this spec pins BIT-IDENTITY against
  * the window operators it replaces, on frames that exercise the ntile
  * remainder rule (total % buckets ∈ {0, 1, buckets-1}), empty and
  * sub-bucket-count frames, duplicate sort keys (tie-broken by id),
  * multiple groups, and more shuffle partitions than rows. */
class ScalableRankSpec extends AnyFunSuite with Matchers
    with SparkSuite {

  // more shuffle partitions than the small frames have rows
  override protected def sessionOverrides =
    Map("spark.sql.shuffle.partitions" -> "7")

  /** Deterministic pseudo-random frame: id unique, k intentionally
    * collision-heavy so ties span range-partition boundaries. */
  private def frame(n: Int, groups: Int) = {
    import spark.implicits._
    (0 until n).map { i =>
      (i % groups + 1, (i * 2654435761L % 97).toInt, i.toLong)
    }.toDF("g", "k", "id")
  }

  private def checkRank(n: Int, groups: Int): Unit = {
    val df = frame(n, groups)
    val (ranked, staged) = ScalableRank.withGlobalRank(
      df, col("g"), Seq(col("k").desc, col("id")), "r", "tot")
    // no helper column leaks into the result
    ranked.columns should contain theSameElementsAs (df.columns :+ "r" :+ "tot")
    val expected = df
      .withColumn("r_w", row_number().over(Window.partitionBy("g")
        .orderBy(col("k").desc, col("id"))).cast("long"))
      .withColumn("tot_w", count(lit(1)).over(
        Window.partitionBy("g")).cast("long"))
    val got =
      try ranked.select("g", "id", "r", "tot").collect()
        .map(x => (x.getInt(0), x.getLong(1)) -> (x.getLong(2), x.getLong(3)))
        .toMap
      finally staged.unpersist()
    val want = expected.select("g", "id", "r_w", "tot_w").collect()
      .map(x => (x.getInt(0), x.getLong(1)) -> (x.getLong(2), x.getLong(3)))
      .toMap
    got shouldBe want
  }

  test("global rank + total match the window operators (one group)") {
    checkRank(101, 1)   // more rows than partitions
    checkRank(5, 1)     // fewer rows than partitions
  }

  test("global rank + total match per-group windows (3 groups)") {
    checkRank(300, 3)
    checkRank(7, 3)     // some groups smaller than partition count
  }

  test("ntileFromRank reproduces the window ntile remainder rule") {
    import spark.implicits._
    for {
      total <- Seq(1, 4, 5, 6, 15, 99, 100, 101, 160)
      buckets <- Seq(3, 5, 16)
    } {
      val df = (1 to total).map(i => (i.toLong, total.toLong, i))
        .toDF("r", "tot", "id")
      val got = df.select(col("id"),
        ScalableRank.ntileFromRank("r", buckets, "tot").as("b"))
      val want = df.select(col("id"),
        ntile(buckets).over(Window.orderBy("r")).as("b"))
      withClue(s"total=$total buckets=$buckets: ") {
        got.collect().map(x => x.getInt(0) -> x.getInt(1)).toMap shouldBe
          want.collect().map(x => x.getInt(0) -> x.getInt(1)).toMap
      }
    }
  }

  test("empty input stays empty and the plan stays total") {
    import spark.implicits._
    val df = Seq.empty[(Int, Int, Long)].toDF("g", "k", "id")
    val (ranked, staged) = ScalableRank.withGlobalRank(
      df, col("g"), Seq(col("k"), col("id")), "r", "tot")
    try ranked.select(ScalableRank.ntileFromRank("r", 5, "tot"))
      .count() shouldBe 0L
    finally staged.unpersist()
  }

  test("the ranked plan contains no single-partition exchange") {
    val df = frame(50, 2)
    val (ranked, staged) = ScalableRank.withGlobalRank(
      df, col("g"), Seq(col("k").desc, col("id")), "r", "tot")
    try {
      val plan = ranked.queryExecution.executedPlan.toString
      plan should not include "SinglePartition"
    } finally staged.unpersist()
  }
}
