package graft.operators

import graft.{SparkEntry, SparkSuite}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Semantic check for q_sim_pca: the integer power iteration must
  * RECOVER a planted dominant axis, not just match its own oracle.
  * Synthetic corpus: x_k = t_k·a + ε·b with a ⟂ b and var along a ≫
  * var along b; the recovered loading vector must align with a (cosine
  * > 0.99) and the explained-variance ppm must reflect the planted
  * dominance. Also pins the L∞ normalization contract (max |loading| =
  * 1000, positive at the tie-broken index) and the empty-input shape.
  */
class PcaSpec extends AnyFunSuite with Matchers with SparkSuite {

  private def writeEmb(rows: Seq[(Long, Array[Float], Int)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-pca").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("recovers a planted dominant axis with L∞ = 1000") {
    val dim = 16
    // a: planted dominant direction (unnormalized is fine — PCA is
    // scale-free); b: an orthogonal minor direction
    val a = Array.tabulate(dim)(i => if (i == 3) 0.8f else 0.05f)
    val b = Array.tabulate(dim)(i =>
      if (i == 3) 0.0f else (if (i % 2 == 0) 0.1f else -0.1f))
    val rows = (0 until 40).map { k =>
      val t = (k % 9) - 4        // strong spread along a: -4..4
      val e = ((k % 3) - 1) * 0.1 // weak spread along b
      (k.toLong,
        Array.tabulate(dim)(i => (t * a(i) + e * b(i)).toFloat), 0)
    }
    val dir = writeEmb(rows)
    val out = SparkEntry.queries("q_sim_pca")(spark, dir)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    out.length shouldBe dim
    val loadings = out.sortBy(_._1).map(_._2)
    // L∞ contract: the max-|.| component is exactly +1000
    loadings.map(math.abs).max shouldBe 1000L
    loadings(3) shouldBe 1000L // the planted peak dim, positive sign
    // alignment with the planted axis
    val na = math.sqrt(a.map(x => x * x).sum)
    val nl = math.sqrt(loadings.map(x => x.toDouble * x).sum)
    val cos = a.indices.map(i => a(i) * loadings(i) / (na * nl)).sum
    cos should be > 0.99
    // the planted split is ~“almost everything along a”
    out.head._4 should be > 900000L
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("empty input produces an empty, well-typed result") {
    val dir = writeEmb(Seq.empty)
    val out = SparkEntry.queries("q_sim_pca")(spark, dir)
    out.columns shouldBe Array("dim", "loading", "lambda_q", "ev_ppm")
    out.count() shouldBe 0L
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
