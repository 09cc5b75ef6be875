package graft.operators

import java.nio.file.Files

import graft.{SparkEntry, SparkSuite}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** q_dedup_exact_substr on a controlled corpus where the ≥50-token
  * repeat structure is known by construction — pins the claims the
  * operator's exactness argument makes:
  *   - a shared 60-token run yields ONE maximal span per occurrence,
  *     with identical content fingerprints across docs;
  *   - a 49-token shared run (one below threshold) yields NOTHING —
  *     the knife-edge that separates exact ≥L semantics from a
  *     shingle-granularity approximation;
  *   - a WITHIN-doc repeat counts as a second occurrence (Lee et al.
  *     semantics: any two occurrences anywhere), producing two spans
  *     in the same doc with equal fingerprints.
  * (The DuckDB oracle covers the real corpus; this covers the
  * adversarial shapes the synthetic corpus may not contain.)
  */
class ExactSubstrSpec
    extends AnyFunSuite with Matchers with SparkSuite {

  // distinct vocab everywhere so no ACCIDENTAL 50-gram repeats exist
  private def toks(prefix: String, n: Int): Seq[String] =
    (1 to n).map(i => f"$prefix$i%03d")

  private lazy val dir: String = {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-xsubstr").toString
    val shared60 = toks("s", 60)
    val shared49 = toks("k", 49)
    val inner50 = toks("r", 50)
    val docs = Seq(
      // A: 10 unique + shared60 + 20 unique → span [11, 70]
      1L -> (toks("a", 10) ++ shared60 ++ toks("b", 20)).mkString(" "),
      // B: shared60 + 5 unique → span [1, 60]
      2L -> (shared60 ++ toks("c", 5)).mkString(" "),
      // C/D: share only 49 tokens → below threshold, no spans
      3L -> (shared49 ++ toks("e", 10)).mkString(" "),
      4L -> (toks("f", 10) ++ shared49).mkString(" "),
      // E: inner50 + 10 unique + inner50 again (within-doc repeat)
      //    → spans [1, 50] and [61, 110]
      5L -> (inner50 ++ toks("g", 10) ++ inner50).mkString(" "),
      // F: shorter than the threshold entirely
      6L -> toks("h", 30).mkString(" "))
    docs.toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    d
  }

  test("maximal spans, threshold knife-edge, and within-doc repeats") {
    val rows = SparkEntry.queries("q_dedup_exact_substr")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    rows.map(t => (t._1, t._2, t._3, t._4)).toSeq shouldBe Seq(
      (1L, 11L, 70L, 60L),
      (2L, 1L, 60L, 60L),
      (5L, 1L, 50L, 50L),
      (5L, 61L, 110L, 50L))
    // equal removed text ⇒ equal fingerprint, across docs and within
    val md5ByDoc = rows.groupBy(_._1).view.mapValues(_.map(_._5)).toMap
    md5ByDoc(1L).head shouldBe md5ByDoc(2L).head // both are shared60
    md5ByDoc(5L).distinct.length shouldBe 1 // both are inner50
    md5ByDoc(1L).head should not be md5ByDoc(5L).head
  }
}
