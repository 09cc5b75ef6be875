package graft.plans

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** IntervalLookupJoinRule: the point-in-interval join against a literal
  * interval table must plan as a join-free binary-search projection,
  * produce exactly the join's rows, and leave every non-matching shape
  * untouched. */
class IntervalJoinRuleSpec extends AnyFunSuite
    with Matchers with SparkSuite {

  override def beforeAll(): Unit = {
    super.beforeAll()
    IntervalLookupJoinRule.install(spark)
  }

  import org.apache.spark.sql.DataFrame

  private def bands: DataFrame = {
    import spark.implicits._
    Seq((0, 0.0, 2.0), (1, 2.0, 5.0), (2, 5.0, 10.0), (3, 10.0, 20.0))
      .toDF("band_id", "lo", "hi")
  }

  private def points: DataFrame = {
    import spark.implicits._
    // boundary values on both sides of every edge, a null, and misses
    Seq[(Int, java.lang.Double)](
      (0, 0.0), (1, 1.999999), (2, 2.0), (3, 4.5), (4, 5.0), (5, 9.99),
      (6, 10.0), (7, 19.999), (8, 20.0), (9, -0.1), (10, null), (11, 25.0))
      .toDF("id", "value")
  }

  private def joined(b: DataFrame): DataFrame =
    points.join(b, col("value") >= col("lo") && col("value") < col("hi"))
      .select("id", "band_id", "lo", "hi")

  test("rewrite fires: no join operator, probe in whole-stage codegen") {
    val df = joined(bands)
    val optimized = df.queryExecution.optimizedPlan.toString
    optimized should not include "Join"
    optimized should include("graft_interval_index")
    val physical = df.queryExecution.executedPlan.toString
    physical should not include "BroadcastNestedLoopJoin"
    // `*(1)` = whole-stage-codegen stage 1: the probe runs fused
    physical should include("*(1) Filter isnotnull(__graft_interval_idx")
  }

  test("rewritten results equal the relational join exactly") {
    val expected = Seq( // hand-derived containment per [lo, hi)
      (0, 0, 0.0, 2.0), (1, 0, 0.0, 2.0), (2, 1, 2.0, 5.0),
      (3, 1, 2.0, 5.0), (4, 2, 5.0, 10.0), (5, 2, 5.0, 10.0),
      (6, 3, 10.0, 20.0), (7, 3, 10.0, 20.0))
    joined(bands).orderBy("id").collect().map(r =>
      (r.getInt(0), r.getInt(1), r.getDouble(2), r.getDouble(3))) shouldBe
      expected
  }

  test("unsorted interval table still probes correctly") {
    import spark.implicits._
    val shuffled = Seq((2, 5.0, 10.0), (0, 0.0, 2.0), (3, 10.0, 20.0),
      (1, 2.0, 5.0)).toDF("band_id", "lo", "hi")
    joined(shuffled).orderBy("id").select("id", "band_id").collect()
      .map(r => (r.getInt(0), r.getInt(1))) shouldBe
      Seq((0, 0), (1, 0), (2, 1), (3, 1), (4, 2), (5, 2), (6, 3), (7, 3))
  }

  test("overlapping intervals bail out to the ordinary join") {
    import spark.implicits._
    val overlapping = Seq((0, 0.0, 3.0), (1, 2.0, 5.0))
      .toDF("band_id", "lo", "hi")
    val df = joined(overlapping)
    df.queryExecution.optimizedPlan.toString should include("Join")
    // 2.0 and 2.5-ish points match BOTH intervals — multiplicity kept
    df.filter(col("id") === 2).count() shouldBe 2
  }

  test("non-literal dimension bails out to the ordinary join") {
    val computed = bands.filter(col("band_id") >= 0)
      .groupBy("band_id").agg(min("lo").as("lo"), max("hi").as("hi"))
    val df = joined(computed)
    df.queryExecution.optimizedPlan.toString should include("Join")
    df.count() shouldBe 8
  }

  test("broadcast-hinted literal dimension still rewrites") {
    val df = joined(broadcast(bands))
    df.queryExecution.optimizedPlan.toString should not include "Join"
    df.count() shouldBe 8
  }

  test("randomized tables: rewritten result equals the relational join") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { _ =>
      // random disjoint [lo, hi) set, unsorted row order
      var edge = rnd.nextDouble() * 10 - 5
      val rows = (0 until (1 + rnd.nextInt(20))).map { i =>
        val lo = edge + rnd.nextDouble() * 3
        val hi = lo + 0.1 + rnd.nextDouble() * 4
        edge = hi
        (i, lo, hi)
      }
      val dim = rnd.shuffle(rows).toDF("band_id", "lo", "hi")
      val pts = (0 until 200)
        .map(i => (i, rnd.nextDouble() * (edge + 10) - 10))
        .toDF("id", "value")
      val got = pts.join(dim,
          col("value") >= col("lo") && col("value") < col("hi"))
        .select("id", "band_id").collect()
        .map(r => (r.getInt(0), r.getInt(1))).toSet
      val pts2 = pts.collect().map(r => (r.getInt(0), r.getDouble(1)))
      val want = (for {
        (id, v) <- pts2
        (b, lo, hi) <- rows if lo <= v && v < hi
      } yield (id, b)).toSet
      got shouldBe want
    }
  }
}
