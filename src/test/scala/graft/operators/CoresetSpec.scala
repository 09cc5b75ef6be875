package graft.operators

import graft.{SparkEntry, SparkSuite}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** q_sim_coreset vs a plain-Scala sequential farthest-point traversal:
  * identical pick order and radius curve on a toy corpus (including
  * duplicate points, which must never be picked while distinct points
  * remain), correct truncation when the list has fewer than k points,
  * and the monotone-nonincreasing radius property on real testdata.
  */
class CoresetSpec extends AnyFunSuite with Matchers with SparkSuite {

  private def writeEmb(rows: Seq[(Long, Array[Float], Int)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-kc").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  /** Sequential reference: quantize like the operator, then greedy. */
  private def reference(
      pts: Seq[(Long, Array[Float])]): Seq[(Long, Long, Long)] = {
    val q = pts.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * 1000.0 + 0.5).toLong)
    }.sortBy(_._1)
    if (q.isEmpty) return Seq.empty
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    val picks = scala.collection.mutable.ArrayBuffer(
      (0L, q.head._1, 0L))
    val sel = scala.collection.mutable.ArrayBuffer(q.head)
    var step = 1L
    while (step < 8 && sel.size < q.size) {
      val cands = q.filterNot(p => sel.exists(_._1 == p._1))
      val scored = cands.map { case (id, v) =>
        (sel.map(s => d2(s._2, v)).min, id, v)
      }
      val best = scored.maxBy { case (m, id, _) => (m, -id) }
      picks += ((step, best._2, best._1))
      sel += ((best._2, best._3))
      step += 1
    }
    picks.toSeq
  }

  test("greedy picks and radii equal the sequential reference") {
    val pts = Seq(
      0L -> Array(0f, 0f), 1L -> Array(1f, 0f), 2L -> Array(0f, 1f),
      3L -> Array(5f, 5f), 4L -> Array(5f, 5f), // exact duplicate
      5L -> Array(-3f, 2f), 6L -> Array(2f, -4f), 7L -> Array(0.5f, 0.5f),
      8L -> Array(-5f, -5f), 9L -> Array(3f, 3f), 10L -> Array(-1f, 4f))
    val dir = writeEmb(pts.map { case (id, v) => (id, v, 0) })
    val got = SparkEntry.queries("q_sim_coreset")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.toSeq shouldBe reference(pts)
    // the duplicate pair must contribute at most one pick
    got.map(_._2).count(Set(3L, 4L)) should be <= 1
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("fewer than k points: traversal stops at the list size") {
    val pts = Seq(7L -> Array(1f, 2f), 3L -> Array(4f, 0f),
      5L -> Array(-2f, 1f))
    val dir = writeEmb(pts.map { case (id, v) => (id, v, 0) })
    val got = SparkEntry.queries("q_sim_coreset")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.length shouldBe 3
    got.toSeq shouldBe reference(pts)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("radius curve is monotone nonincreasing on real testdata") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/embeddings.parquet").exists)
    val radii = SparkEntry.queries("q_sim_coreset")(spark, sf)
      .collect().map(_.getLong(2)).drop(1) // step 0 is the seed's 0
    radii.zip(radii.tail).foreach { case (a, b) => b should be <= a }
  }
}
