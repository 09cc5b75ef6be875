package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Unit coverage for the Jaccard stop-shingle removal (df cap): hot
  * shingles must vanish from the Jaccard space entirely (the 100 TB
  * quadratic guard), while pairs sharing sub-cap shingles score over
  * the capped sets. */
class DedupSpec extends AnyFunSuite with Matchers with SparkSuite {

  private def shingleDf(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "s")
  }

  test("pairs sharing only a hot shingle are not candidates") {
    // "hot" appears in 4 docs (> maxDf = 3); docs 1/2 share nothing else
    val sh = shingleDf(
      (1L, "hot"), (2L, "hot"), (3L, "hot"), (4L, "hot"),
      (1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
    val pairs = Dedup.jaccardPairs(spark, sh, threshold = 0.0, maxDf = 3)
      .collect()
    pairs shouldBe empty
  }

  test("a sub-cap shingle keeps the pair, scored over the capped sets") {
    // docs 10/11 share "rare" (df=2, kept) and "hot" (df=4, removed):
    // capped sets d10={rare,x}, d11={rare,y} → jaccard = 1/3.
    val sh = shingleDf(
      (10L, "hot"), (11L, "hot"), (12L, "hot"), (13L, "hot"),
      (10L, "rare"), (11L, "rare"),
      (10L, "x"), (11L, "y"), (12L, "z"), (13L, "w"))
    val pairs = Dedup.jaccardPairs(spark, sh, threshold = 0.0, maxDf = 3)
      .select(col("d1"), col("d2"), round(col("jaccard"), 6).as("j"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    pairs should contain theSameElementsAs Seq((10L, 11L, 0.333333))
  }

  test("uncapped behavior is the default cap's behavior below the ceiling") {
    val sh = shingleDf(
      (1L, "p"), (2L, "p"), (1L, "q"), (2L, "q"), (3L, "q"))
    val capped = Dedup.jaccardPairs(spark, sh, threshold = 0.0, maxDf = 1000)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1)))
    capped should contain theSameElementsAs
      Seq((1L, 2L), (1L, 3L), (2L, 3L))
  }
}
