package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** graft_ixcount's contract: on sorted-ascending duplicate-free
  * ARRAY<BIGINT> inputs it equals size(array_intersect(a, b)) exactly
  * — the equivalence that keeps the triangle-closure and PPJoin-verify
  * oracles untouched by the native swap. Proven on adversarial edges
  * (empty, disjoint, identical, subset, interleaved, negatives) and
  * 300 seeded-random pairs, in BOTH the interpreted (nullSafeEval) and
  * codegen paths — the whole-stage pipeline exercises doGenCode, the
  * literal fold exercises eval.
  */
class SortedIntersectCountSpec
    extends AnyFunSuite with Matchers with SparkSuite {

  private def check(pairs: Seq[(Seq[Long], Seq[Long])]): Unit = {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = pairs.toDF("a", "b")
    val rows = df.select(
      expr("graft_ixcount(a, b)").as("native"),
      expr("CAST(size(array_intersect(a, b)) AS BIGINT)").as("builtin"))
      .collect()
    rows.length shouldBe pairs.length
    rows.foreach { r =>
      withClue(s"native=${r.getLong(0)} builtin=${r.getLong(1)}: ") {
        r.getLong(0) shouldBe r.getLong(1)
      }
    }
  }

  test("adversarial edges match size(array_intersect) exactly") {
    check(Seq(
      (Seq.empty[Long], Seq.empty[Long]),
      (Seq.empty[Long], Seq(1L, 2L, 3L)),
      (Seq(1L, 2L, 3L), Seq.empty[Long]),
      (Seq(1L, 3L, 5L), Seq(2L, 4L, 6L)), // disjoint interleaved
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)), // identical
      (Seq(2L, 4L), Seq(1L, 2L, 3L, 4L, 5L)), // subset
      (Seq(-9L, -3L, 0L, 7L), Seq(-3L, 7L, 8L)), // negatives
      (Seq(Long.MinValue, 0L, Long.MaxValue),
        Seq(Long.MinValue, Long.MaxValue)),
      (Seq(1L), Seq(1L)),
      (Seq(1L), Seq(2L))))
  }

  test("300 seeded-random sorted distinct pairs match exactly") {
    val rnd = new scala.util.Random(20260816L)
    val pairs = (1 to 300).map { _ =>
      def arr(): Seq[Long] = {
        val n = rnd.nextInt(40)
        Seq.fill(n)(rnd.nextInt(60).toLong).distinct.sorted
      }
      (arr(), arr())
    }
    check(pairs)
  }

  test("non-ARRAY<BIGINT> inputs are an analysis error, not a wrong count") {
    // getLong over a 4-byte-element UnsafeArrayData would return
    // garbage — the session-wide function must reject at analysis time
    GraftFunctions.register(spark)
    val e = intercept[Exception] {
      spark.sql(
        "SELECT graft_ixcount(array(1, 2, 3), array(2, 3))").collect()
    }
    e.getMessage should include ("ARRAY<BIGINT>")
    val arity = intercept[Exception] {
      spark.sql("SELECT graft_ixcount(array(1L))").collect()
    }
    arity.getMessage.toLowerCase should include ("argument")
  }

  test("nullable-element arrays are an analysis error, not garbage bits") {
    // ARRAY<BIGINT> with containsNull=true is a LEGAL SQL type, and
    // getLong on a null slot reads garbage silently — the last hole
    // the r8 type-guard commit left open. Engine call sites build
    // arrays via sort_array(collect_list(...)) (element non-null by
    // construction); ad-hoc SQL gets a spelled-out analysis error.
    GraftFunctions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT graft_ixcount(array(1L, CAST(NULL AS BIGINT))," +
        " array(1L, 2L))").collect()
    }
    e.getMessage should include ("nullable elements")
    // right side checked too, not just left
    val e2 = intercept[Exception] {
      spark.sql("SELECT graft_ixcount(array(1L, 2L)," +
        " array(CAST(NULL AS BIGINT)))").collect()
    }
    e2.getMessage should include ("nullable elements")
  }

  test("interpreted eval agrees with the codegen path") {
    // a literal fold goes through nullSafeEval (constant folding runs
    // the interpreted expression); the DataFrame pipeline above runs
    // whole-stage codegen — equal results pin both implementations
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_ixcount(array(1L,4L,6L,9L), array(4L,5L,9L))").head
    r.getLong(0) shouldBe 2L
  }
}
