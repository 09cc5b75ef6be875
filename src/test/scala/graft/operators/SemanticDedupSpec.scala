package graft.operators

import java.nio.file.Files

import graft.{SparkEntry, SparkSuite}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Golden semantics for q_dedup_semantic on planted vectors: a cluster's
  * lowest-id member is always kept, a near-parallel higher-id cluster-mate
  * (cos ≥ 0.4) is dropped, and a cluster-mate below the threshold
  * survives. Clusters are the nearest integer-grid label centroid, so the
  * test also pins the assignment rule (not just the scoring). */
class SemanticDedupSpec extends AnyFunSuite with Matchers with SparkSuite {

  test("keeps cluster minima and sub-threshold mates, drops near-dups") {
    import spark.implicits._
    def vec(xs: Double*): Array[Float] = {
      val a = new Array[Float](8)
      xs.zipWithIndex.foreach { case (x, i) => a(i) = x.toFloat }
      a
    }
    // label 0 points along e0: v1 near-parallel to v0 (cos ≈ 0.997 → drop)
    // label 1 spans e1/e2: v11 vs v10 cos ≈ 0.38 < 0.4 → both kept
    val rows = Seq(
      (0L, vec(1.0), 0),
      (1L, vec(0.9, 0.1), 0),
      (10L, vec(0.0, 1.0, 0.2), 1),
      (11L, vec(0.0, 0.2, 1.0), 1))
    val dir = Files.createTempDirectory("graft-semdedup").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val out = SparkEntry.queries("q_dedup_semantic")(spark, dir)
      .select("vec_id", "list", "n_close_prev", "keep", "max_sim_prev")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getInt(3), r.getDouble(4))))
      .toMap

    out.keySet shouldBe Set(0L, 1L, 10L, 11L)
    // cluster minima: no lower-id mates, sentinel similarity
    out(0L) shouldBe ((0, 0L, 1, -1.0))
    out(10L)._3 shouldBe 1
    out(10L)._4 shouldBe -1.0
    // near-parallel pair: dropped, similarity ≈ 1
    out(1L)._3 shouldBe 0
    out(1L)._2 shouldBe 1L
    out(1L)._4 should be > 0.99
    // sub-threshold mate: kept, but its similarity is still reported
    out(11L)._3 shouldBe 1
    out(11L)._2 shouldBe 0L
    out(11L)._4 should (be > 0.3 and be < 0.4)
    // assignment put the e1/e2 vectors in the same cluster, apart from e0's
    out(10L)._1 shouldBe out(11L)._1
    out(0L)._1 should not be out(10L)._1
  }
}
