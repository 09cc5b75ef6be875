package graft.operators

import java.nio.file.Files

import graft.{SparkEntry, SparkSuite}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Golden semantics for q_sim_kmeans on planted clusters: 4 axis-aligned
  * groups of two vectors each (magnitudes 1.0 and 0.8 along a private
  * dimension), seeds = the 4 lowest vec_ids = one per group. Lloyd
  * converges in the first round, so every quantity is hand-computable in
  * exact integer arithmetic on the 1e-6 grid:
  *   centroid   = (1000000 + 800000) div 2 = 900000 on the group's dim
  *   d2/member  = 100000²          = 10 000 000 000
  *   inertia    = 2 · 100000²      = 20 000 000 000
  *   cent_sum   = 900000 (single non-zero coordinate)
  */
class KMeansSpec extends AnyFunSuite with Matchers with SparkSuite {

  test("planted axis clusters: sizes, integer inertia, centroid checksum") {
    import spark.implicits._
    def vec(dim: Int, mag: Double): Array[Float] = {
      val a = new Array[Float](8)
      a(dim) = mag.toFloat
      a
    }
    val rows = Seq(
      (0L, vec(0, 1.0), 0), (10L, vec(0, 0.8), 0),
      (1L, vec(1, 1.0), 1), (11L, vec(1, 0.8), 1),
      (2L, vec(2, 1.0), 2), (12L, vec(2, 0.8), 2),
      (3L, vec(3, 1.0), 3), (13L, vec(3, 0.8), 3))
    val dir = Files.createTempDirectory("graft-kmeans").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val out = SparkEntry.queries("q_sim_kmeans")(spark, dir).collect()
    out.map(_.getLong(0)).toSeq shouldBe Seq(0L, 1L, 2L, 3L)
    out.foreach { r =>
      r.getAs[Long]("n_members") shouldBe 2L
      r.getAs[Long]("inertia") shouldBe 20000000000L
      r.getAs[Long]("cent_sum") shouldBe 900000L
    }
  }
}
