package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class CosineSimSpec extends AnyFunSuite with Matchers with SparkSuite {

  test("bit-identical to the composable zip_with/aggregate form") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val rows = Seq.fill(200)((
      Array.fill(64)(rng.nextDouble() - 0.5),
      Array.fill(64)(rng.nextDouble() - 0.5)))
    val df = rows.toDF("a", "b")
      .withColumn("native", expr("graft_cosine(a, b)"))
      .withColumn("composed",
        expr("aggregate(zip_with(a, b, (x, y) -> x*y), 0D, (acc, x) -> acc + x)") /
          (expr("sqrt(aggregate(a, 0D, (acc, x) -> acc + x*x))") *
            expr("sqrt(aggregate(b, 0D, (acc, x) -> acc + x*x))")))
    df.filter(col("native") =!= col("composed")).count() shouldBe 0L
  }

  test("graft_qcos matches the integer reference fold exactly") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val rows = Seq.fill(100)((
      Array.fill(64)((rng.nextInt(255) - 127).toLong),
      Array.fill(64)((rng.nextInt(255) - 127).toLong)))
    val expected = rows.map { case (a, b) =>
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot.toDouble / (math.sqrt(a.map(x => x * x).sum.toDouble) *
        math.sqrt(b.map(x => x * x).sum.toDouble))
    }
    val got = rows.toDF("a", "b")
      .withColumn("c", expr("graft_qcos(a, b)"))
      .select("c").collect().map(_.getDouble(0))
    // integer accumulation: equality is exact, not approximate
    got.toSeq shouldBe expected
  }

  test("known values and self-similarity") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq(
      (Array(1.0, 0.0), Array(0.0, 1.0)), // orthogonal
      (Array(1.0, 2.0), Array(2.0, 4.0)), // parallel
      (Array(1.0, 0.0), Array(-1.0, 0.0)) // opposite
    ).toDF("a", "b").withColumn("c", expr("graft_cosine(a, b)"))
    val cs = df.select("c").collect().map(_.getDouble(0))
    cs(0) shouldBe 0.0 +- 1e-15
    cs(1) shouldBe 1.0 +- 1e-12
    cs(2) shouldBe -1.0 +- 1e-12
  }

  test("participates in whole-stage codegen") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // array() is codegen-able; transform() is not (higher-order functions
    // break the codegen span — the very reason CosineSim exists)
    val df = spark.range(100)
      .selectExpr(
        "array(CAST(id AS DOUBLE), CAST(id + 1 AS DOUBLE)) AS a",
        "array(CAST(id + 2 AS DOUBLE), CAST(id + 3 AS DOUBLE)) AS b")
      .selectExpr("graft_cosine(a, b) AS c")
    val codegen = df.queryExecution
      .explainString(org.apache.spark.sql.execution.CodegenMode)
    codegen should include("WholeStageCodegen")
    // our generated loop (not a fallback to interpreted eval)
    codegen should include(".getDouble(")
  }

}
