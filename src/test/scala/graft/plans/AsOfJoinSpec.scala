package graft.plans

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** AsOfJoinExec equivalence: the physical operator must return exactly
  * what the relational formulation (left join + per-left-row argmax
  * window) returns — on crafted edge cases (duplicate right times,
  * keys with no right rows, null times/keys, time exactly equal) and
  * on real data. Also pins the plan: an AsOfJoinExec node, no shuffle
  * of the probe side, no sort-merge join. */
class AsOfJoinSpec extends AnyFunSuite with Matchers with SparkSuite {

  /** Reference implementation: windowed argmax over a range left join. */
  private def relational(l: DataFrame, r: DataFrame): Seq[Seq[String]] = {
    val j = l.join(r,
        l("k") === r("rk") && r("rt") <= l("t"), "left")
      .withColumn("rn", row_number().over(
        Window.partitionBy(l("lid"))
          .orderBy(r("rt").desc_nulls_last, r("rid").desc_nulls_last)))
      .filter(col("rn") === 1)
      .select(l("lid"), l("k"), l("t"), r("rid"), r("rt"), r("rv"))
    j.collect().map(_.toSeq.map(String.valueOf)).toSeq
      .sortBy(_.mkString("|"))
  }

  private def viaExec(l: DataFrame, r: DataFrame): Seq[Seq[String]] =
    AsOfJoin.join(l, r, "k", "t", "rk", "rt", "rid")
      .select(col("lid"), col("k"), col("t"), col("rid"), col("rt"),
        col("rv"))
      .collect().map(_.toSeq.map(String.valueOf)).toSeq
      .sortBy(_.mkString("|"))

  test("matches the relational argmax on crafted edge cases") {
    import spark.implicits._
    // left: (lid, k, t) — key 99 has no right rows; null key and null
    // time rows must keep nulls on the right
    val lAll = Seq(
      (Option(1L), Option(10L), Option(100L)),
      (Option(2L), Option(10L), Option(55L)),
      (Option(3L), Option(10L), Option(54L)),
      (Option(4L), Option(99L), Option(100L)),
      (Option(5L), Option(20L), Option(70L)),
      (Option(6L), Option(20L), Option(200L)),
      (Option(7L), Option.empty[Long], Option(10L)),
      (Option(8L), Option(10L), Option.empty[Long]))
      .toDF("lid", "k", "t")
    // right: duplicate times on key 10 at t=55 (tie → max rid wins),
    // exact-equality match at t=55, key 20 sparse
    val r = Seq(
      (100L, 10L, 50L, 1.0), (101L, 10L, 55L, 2.0), (102L, 10L, 55L, 3.0),
      (103L, 10L, 90L, 4.0), (200L, 20L, 60L, 5.0))
      .toDF("rid", "rk", "rt", "rv")
    viaExec(lAll, r) shouldBe relational(lAll, r)
  }

  test("matches the relational argmax on the events table") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/events.parquet").exists)
    val ev = spark.read
      .schema("event_id LONG, ts LONG, user_id LONG, event_type STRING," +
        " value DOUBLE, props STRING")
      .parquet(s"$sf/events.parquet")
    val l = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("lid"), col("user_id").as("k"),
        expr("ts div 1000").as("t"))
    val r = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("rid"), col("user_id").as("rk"),
        expr("ts div 1000").as("rt"), col("value").as("rv"))
    viaExec(l, r) shouldBe relational(l, r)
  }

  test("build side over the row ceiling fails loudly, not with an OOM") {
    import spark.implicits._
    val l = Seq((1L, 10L, 100L)).toDF("lid", "k", "t")
    val r = spark.range(100)
      .select(col("id").as("rid"), lit(10L).as("rk"), col("id").as("rt"),
        lit(1.0).as("rv"))
    spark.conf.set("spark.graft.asof.maxBuildRows", "10")
    try {
      val ex = intercept[Exception] {
        AsOfJoin.join(l, r, "k", "t", "rk", "rt", "rid").collect()
      }
      // the IllegalStateException may arrive wrapped by the executor
      val msgs = Iterator.iterate(ex: Throwable)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      msgs should include ("maxBuildRows")
      msgs should include ("q_join_asof")
    } finally spark.conf.unset("spark.graft.asof.maxBuildRows")
  }

  test("plans as AsOfJoinExec with the probe side unshuffled") {
    import spark.implicits._
    val l = Seq((1L, 10L, 100L)).toDF("lid", "k", "t")
    val r = Seq((100L, 10L, 50L, 1.0)).toDF("rid", "rk", "rt", "rv")
    val plan = AsOfJoin.join(l, r, "k", "t", "rk", "rt", "rid")
      .queryExecution.executedPlan.toString
    plan should include ("AsOfJoin") // SparkPlan.nodeName strips "Exec"
    plan should not include "SortMergeJoin"
    plan should not include "BroadcastHashJoin"
    // the build side goes through a broadcast EXCHANGE: the operator
    // itself never collects rows to the driver
    plan should include ("BroadcastExchange")
    plan should include ("IdentityBroadcastMode")
  }
}
