package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Runtime Bloom-filter injection: when a selective dimension filters
  * a shuffle join, Catalyst's InjectRuntimeFilter should build a Bloom
  * filter on the filtered side and probe it on the fact side BEFORE
  * the exchange — at 100 TB this is the difference between shuffling
  * the whole fact table and shuffling the ~matching rows. This spec
  * pins that the optimization engages on our join shapes and that it
  * does not change results. */
class RuntimeFilterSpec extends AnyFunSuite with Matchers with SparkSuite {

  private val sf = "/root/testdata/sf0.001"
  private def haveData = new java.io.File(s"$sf/lineitem.parquet").exists

  // engage the machinery at toy scale: no broadcast (forces the
  // shuffle join the filter exists for), no size floors
  override protected def sessionOverrides = Map(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "1GB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
      -> "0")

  test("a selective dim filter injects a Bloom probe on the fact side") {
    assume(haveData)
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_totalprice") > 400000.0) // selective
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val joined = li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("q"))
    val plan = joined.queryExecution.optimizedPlan.toString
    plan should include ("bloom_filter")
    // and the optimization must be semantics-preserving
    val withFilter = joined.collect().map(_.toSeq.map(String.valueOf))
      .sortBy(_.mkString("|"))
    val key = "spark.sql.optimizer.runtime.bloomFilter.enabled"
    spark.conf.set(key, "false")
    try {
      val without = li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("q"))
        .collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))
      withFilter shouldBe without
    } finally spark.conf.set(key, "true")
  }
}
