package graft.plans

import graft.SparkSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** IntervalJoinExec must be indistinguishable from the join it replaces.
  * Every case runs the SAME range join twice — in a session with the
  * strategy installed and in a plain one (extraStrategies are
  * session-scoped, and a DataFrame plans in the session that created it)
  * — and compares full result multisets. Inputs deliberately include
  * what the sorted stabbing structure gets wrong if mis-built:
  * overlapping intervals (multi-match), duplicate intervals, NULL
  * bounds, NULL and NaN points, unsorted input order, empty dims, and
  * strict/inclusive bound combos.
  */
class IntervalJoinStrategySpec extends AnyFunSuite with Matchers
    with SparkSuite {

  private def facts(s: SparkSession): DataFrame = {
    import s.implicits._
    // includes NULL and NaN points and values outside every interval
    (Seq(0.5, 1.0, 1.5, 2.0, 2.5, 3.0, 7.5, -4.0, Double.NaN) ++
      Seq.tabulate(200)(i => i / 10.0))
      .map(Option(_)).zipWithIndex
      .map { case (v, i) => (i.toLong, if (i == 9) None else v) }
      .toDF("id", "value")
      .select(col("id"), col("value").cast("double"))
  }

  private def dim(s: SparkSession): DataFrame = {
    import s.implicits._
    // overlapping, duplicated, NULL-bounded, reverse-ordered intervals
    Seq(
      (0, Some(5.0), Some(20.0)),
      (1, Some(1.0), Some(2.0)),
      (2, Some(1.0), Some(2.0)), // exact duplicate interval
      (3, Some(0.0), Some(10.0)), // overlaps everything below 10
      (4, None, Some(3.0)), // null lower: never matches
      (5, Some(2.0), None), // null upper: never matches
      (6, Some(2.0), Some(2.0)), // empty interval
      (7, Some(-10.0), Some(-1.0)),
      // NaN bounds: Spark's SQL double order is NaN-greatest, so
      // hi = NaN matches every finite point above lo (x < NaN is TRUE)
      // and lo = NaN matches only NaN points under >=; the exec must
      // reproduce this, not primitive-Java NaN compares (always false)
      (8, Some(5.0), Some(Double.NaN)),
      (9, Some(Double.NaN), Some(3.0))
    ).toDF("band_id", "lo", "hi")
      .select(col("band_id"), col("lo").cast("double"),
        col("hi").cast("double"))
  }

  private def runJoin(
      install: Boolean, cond: (DataFrame, DataFrame) => DataFrame)
      : (Seq[String], String) = {
    val s = spark.newSession()
    if (install) IntervalJoinStrategy.install(s)
    val joined = cond(facts(s), dim(s).hint("broadcast"))
    val rows = joined.collect().map(_.toString).sorted.toSeq
    (rows, joined.queryExecution.executedPlan.toString)
  }

  private def check(cond: (DataFrame, DataFrame) => DataFrame): Unit = {
    val (expected, basePlan) = runJoin(install = false, cond)
    val (got, plan) = runJoin(install = true, cond)
    basePlan should not include "IntervalJoin"
    plan should include("IntervalJoin")
    got shouldBe expected
    expected.nonEmpty shouldBe true
  }

  test("half-open [lo, hi): equals default plan on adversarial intervals") {
    check((f, d) =>
      f.join(d, col("value") >= col("lo") && col("value") < col("hi")))
  }

  test("closed [lo, hi]: inclusive upper bound") {
    check((f, d) =>
      f.join(d, col("value") >= col("lo") && col("value") <= col("hi")))
  }

  test("open (lo, hi): strict lower bound") {
    check((f, d) =>
      f.join(d, col("value") > col("lo") && col("value") < col("hi")))
  }

  test("flipped operand order (lo <= point AND hi > point)") {
    check((f, d) =>
      f.join(d, col("lo") <= col("value") && col("hi") > col("value")))
  }

  test("computed point expression probes too") {
    check((f, d) =>
      f.join(d,
        col("value") * 2.0 >= col("lo") && col("value") * 2.0 < col("hi")))
  }

  test("dim that empties at build time (all bounds NULL) joins to zero rows") {
    // an optimizer-visibly-empty dim is folded away by
    // PropagateEmptyRelation before planning; NULL bounds survive to the
    // exec, whose build drops them — exercising the empty-probe path
    val s = spark.newSession()
    IntervalJoinStrategy.install(s)
    // parquet round-trip: a locally-derivable dim is folded to an empty
    // LocalRelation by ConvertToLocalRelation + PropagateEmptyRelation
    // before the planner ever runs; a scan keeps emptiness runtime-only
    val pq = java.nio.file.Files
      .createTempDirectory("graft-ij-nulldim").toString
    dim(s).select(col("band_id"),
      when(col("band_id") < 0, col("lo")).as("lo"),
      when(col("band_id") < 0, col("hi")).as("hi"))
      .write.mode("overwrite").parquet(pq)
    val nullDim = s.read.parquet(pq).hint("broadcast")
    val joined = facts(s).join(nullDim,
      col("value") >= col("lo") && col("value") < col("hi"))
    joined.queryExecution.executedPlan.toString should
      include("IntervalJoin")
    joined.count() shouldBe 0L
  }

  test("non-range joins are left to the default planner") {
    val s = spark.newSession()
    IntervalJoinStrategy.install(s)
    val joined = facts(s).join(dim(s).hint("broadcast"),
      col("value") === col("lo"))
    joined.queryExecution.executedPlan.toString should
      not include "IntervalJoin"
    noException should be thrownBy joined.count()
  }
}
