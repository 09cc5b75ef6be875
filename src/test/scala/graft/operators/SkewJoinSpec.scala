package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** AQE skew-join demonstration: a 95%-hot-key fact joined without
  * broadcast must trigger AQE's runtime skew split (the complement to
  * the explicit salting in ScaleOps — salting fixes known skew in the
  * plan, AQE catches unknown skew at runtime; a 100 TB pipeline needs
  * both). Asserts the executed plan actually took the skew path AND
  * that the result is identical to the broadcast (skew-immune) plan. */
class SkewJoinSpec extends AnyFunSuite with Matchers with SparkSuite {

  // force the skew machinery to engage at toy scale
  override protected def sessionOverrides = Map(
    "spark.sql.shuffle.partitions" -> "8",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB")

  test("AQE splits the hot partition and preserves the join result") {
    import spark.implicits._
    // 95k rows on key 7, 5k spread over 100 other keys
    val fact = spark.range(100000)
      .select(when(col("id") < 95000, lit(7L)).otherwise(col("id") % 100)
        .as("k"), col("id").as("v"))
    val dim = spark.range(100)
      .select(col("id").as("k"), concat(lit("d"), col("id")).as("name"))
    def agg(noBroadcast: Boolean) = {
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val prev = spark.conf.get(key)
      if (noBroadcast) spark.conf.set(key, "-1")
      try {
        val joined = fact.join(dim, "k")
          .groupBy("name").agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
        val rows = joined.collect().map(_.toSeq.map(String.valueOf))
          .sortBy(_.mkString("|"))
        val plan = joined.queryExecution.executedPlan.toString
        (rows, plan)
      } finally spark.conf.set(key, prev)
    }
    val (skewRows, skewPlan) = agg(noBroadcast = true)
    val (bcastRows, _) = agg(noBroadcast = false)
    skewPlan should include ("skew=true")
    skewRows shouldBe bcastRows
  }
}
