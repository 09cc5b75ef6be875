package graft.operators

import java.nio.file.Files

import graft.{SparkEntry, SparkSuite}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Golden semantics for q_text_tfidf on a 3-document corpus where every
  * score is hand-computable on the integer idf grid
  * (idf_scaled = (1e6 · 3) div df):
  *   doc 1 "apple apple banana":   apple 2·3e6 = 6e6, banana 1·1.5e6
  *   doc 2 "banana cherry":        tie at 1.5e6 → lexicographic order
  *   doc 3 "cherry cherry cherry durian": cherry 3·1.5e6 beats durian 3e6
  */
class TfidfSpec extends AnyFunSuite with Matchers with SparkSuite {

  test("top terms, scaled integer scores, and the lexicographic tie-break") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tfidf").toString
    Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry"),
      (3L, "cherry cherry cherry durian"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val out = SparkEntry.queries("q_text_tfidf")(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rank")) ->
        ((r.getAs[String]("w"), r.getAs[Long]("score"))))
      .toMap

    out.size shouldBe 6
    out((1L, 1)) shouldBe (("apple", 6000000L))
    out((1L, 2)) shouldBe (("banana", 1500000L))
    // tie at 1.5e6: banana before cherry
    out((2L, 1)) shouldBe (("banana", 1500000L))
    out((2L, 2)) shouldBe (("cherry", 1500000L))
    out((3L, 1)) shouldBe (("cherry", 4500000L))
    out((3L, 2)) shouldBe (("durian", 3000000L))
  }
}
