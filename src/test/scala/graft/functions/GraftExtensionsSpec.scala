package graft.functions

import graft.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The extensions-injection path needs its OWN suite: spark.sql.extensions
  * is a STATIC conf — it only applies when the SparkContext itself is
  * created, so the test must build a fresh context. Doing that inside a
  * shared-session suite (the previous home, last test of CosineSimSpec)
  * meant any test running after it — filtered runs, parallel execution, a
  * later addition — executed against a stopped context, and afterAll then
  * stopped the already-stopped session. Here the fresh context is the
  * whole suite's lifecycle, so ordering can't break anything.
  */
class GraftExtensionsSpec extends AnyFunSuite with Matchers {

  test("extensions apply on a fresh context: function + optimizer rule") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = Sessions.local(overrides =
      Map("spark.sql.extensions" -> classOf[GraftExtensions].getName))
    try {
      import s2.implicits._
      val c = Seq((Array(1.0, 2.0), Array(1.0, 2.0))).toDF("a", "b")
        .selectExpr("graft_cosine(a, b) AS c")
        .collect().head.getDouble(0)
      c shouldBe 1.0 +- 1e-12
      // the interval-lookup rule rides the same injection — no
      // imperative install on s2, yet the join plans join-free
      val dim = Seq((0, 0.0, 5.0), (1, 5.0, 10.0))
        .toDF("band_id", "lo", "hi")
      val pts = Seq((1, 2.5), (2, 7.5), (3, 11.0)).toDF("id", "value")
      val joined = pts.join(dim,
        col("value") >= dim("lo") && col("value") < dim("hi"))
      joined.queryExecution.optimizedPlan.toString should not include "Join"
      joined.count() shouldBe 2
    } finally {
      s2.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
