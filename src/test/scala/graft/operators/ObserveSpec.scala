package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** In-flight observability: `Dataset.observe` attaches data-quality
  * counters to the MAIN query (no second scan) — the production way to
  * monitor a 100 TB curation job without doubling its cost. The
  * constraint-gate query (q_scale_constraints) is the standalone audit
  * pass; this pins that the same metrics can ride along any query for
  * free and agree with the direct aggregate. */
class ObserveSpec extends AnyFunSuite with Matchers with SparkSuite {

  private val sf = "/root/testdata/sf0.001"
  private def haveData = new java.io.File(s"$sf/documents.parquet").exists

  test("observed metrics ride the main query and match a direct agg") {
    assume(haveData)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val obs = Observation("graft_quality")
    // the "main job": a filter+aggregate the pipeline would run anyway
    val result = docs
      .observe(obs,
        count(lit(1)).as("n_rows"),
        count(when(col("lang") === "en", lit(1))).as("n_en"),
        sum(col("n_chars")).as("total_chars"))
      .filter(col("n_chars") > 100)
      .groupBy("lang").agg(count(lit(1)).as("n"))
      .collect()
    result should not be empty
    val m = obs.get
    val direct = docs.agg(
      count(lit(1)), count(when(col("lang") === "en", lit(1))),
      sum(col("n_chars"))).head()
    m("n_rows") shouldBe direct.getLong(0)
    m("n_en") shouldBe direct.getLong(1)
    m("total_chars") shouldBe direct.getLong(2)
  }
}
