package graft.operators

import java.nio.file.Files

import graft.{SparkEntry, SparkSuite}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Golden semantics for q_sim_binary_hamming on hand-built 64-dim sign
  * patterns that exercise BOTH packed words and every distance regime:
  * identical (hamming 0), one flipped low-word bit (1), the whole high
  * word flipped (32), and fully anti-parallel (64). Cosines are exact
  * in FP by construction (±1 coordinates → integer dots, norm² = 64).
  */
class BinaryHammingSpec extends AnyFunSuite with Matchers
    with SparkSuite {

  test("sign packing spans both words; rerank orders by exact cosine") {
    import spark.implicits._
    def vec(f: Int => Double): Array[Float] =
      Array.tabulate(64)(i => f(i).toFloat)
    val rows = Seq(
      (0L, vec(_ => 1.0), 0),                            // the query
      (10L, vec(_ => 1.0), 0),                           // hamming 0
      (11L, vec(i => if (i < 32) 1.0 else -1.0), 0),     // 32 (word 1)
      (12L, vec(_ => -1.0), 0),                          // 64
      (13L, vec(i => if (i == 0) -1.0 else 1.0), 0))     // 1 (word 0)
    val dir = Files.createTempDirectory("graft-binham").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val out = SparkEntry.queries("q_sim_binary_hamming")(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("n_id"), r.getAs[Long]("hamming"),
        r.getAs[Double]("cosine")))
    // cosine(q, 13) = 62/64 = 0.96875 exactly → rounds to 0.9688
    out.toSeq shouldBe Seq(
      (0L, 1, 10L, 0L, 1.0),
      (0L, 2, 13L, 1L, 0.9688),
      (0L, 3, 11L, 32L, 0.0))
  }

  test("full two-stage result matches a sequential brute force on random vectors") {
    import spark.implicits._
    // seeded random ±magnitudes: signs are unbiased, magnitudes vary,
    // no coordinate is exactly 0, no two cosines collide after
    // rounding by construction of the continuous magnitudes
    val rnd = new scala.util.Random(42)
    val vecs: Seq[(Long, Array[Float])] = (0 until 40).map { id =>
      (id.toLong, Array.fill(64)(
        ((rnd.nextDouble() * 0.9 + 0.1) *
          (if (rnd.nextBoolean()) 1 else -1)).toFloat))
    }
    val dir = java.nio.file.Files
      .createTempDirectory("graft-binham-prop").toString
    vecs.map { case (id, v) => (id, v, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // sequential mirror: pack → hamming rank (tie: n_id) → top-20 →
    // exact cosine rerank (tie: n_id) → top-3. Doubles fold in vector
    // order, exactly like the engine's graft_cosine.
    def ham(a: Array[Float], b: Array[Float]): Long =
      a.zip(b).count { case (x, y) => (x > 0f) != (y > 0f) }.toLong
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < 64) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val byId = vecs.toMap
    val expected = (0L until 10L).flatMap { q =>
      val cand = vecs.collect { case (id, v) if id != q =>
        (id, ham(byId(q), v))
      }.sortBy { case (id, h) => (h, id) }.take(20)
      cand.map { case (id, _) => (id, cos(byId(q), byId(id))) }
        .sortBy { case (id, c) => (-c, id) }.take(3).zipWithIndex
        .map { case ((id, c), i) =>
          (q, i + 1, id, ham(byId(q), byId(id)),
            BigDecimal(c).setScale(4, BigDecimal.RoundingMode.HALF_UP)
              .toDouble)
        }
    }
    val got = SparkEntry.queries("q_sim_binary_hamming")(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("n_id"), r.getAs[Long]("hamming"),
        r.getAs[Double]("cosine")))
    got.toSeq shouldBe expected
  }
}
