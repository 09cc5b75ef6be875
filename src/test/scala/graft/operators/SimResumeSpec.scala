package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Resume contract of the durable IVF-assignment store
  * ([[Similarity.ivfAssignResumable]]) — the vector-index twin of
  * DedupResumeSpec: increments converge on the from-scratch assignment,
  * indexed vectors are never re-assigned, and a vector duplicated
  * WITHIN one batch is assigned exactly once. */
class SimResumeSpec extends AnyFunSuite with Matchers with SparkSuite {

  // two well-separated clusters: label 0 near (0,0,0,0), label 1 near
  // (10,10,10,10); vector i leans to cluster (i % 2)
  private def vecs(n: Int) = {
    import spark.implicits._
    (0 until n).map { i =>
      val base = if (i % 2 == 0) 0.0 else 10.0
      (i.toLong, (i % 2).toLong,
        Seq(base + 0.01 * i, base, base - 0.01 * i, base))
    }.toDF("vec_id", "label", "v")
  }

  test("increments converge on the from-scratch assignment; no re-assignment") {
    val store = java.nio.file.Files
      .createTempDirectory("graft-ivf-resume").toString + "/store"
    val all = vecs(10)
    // increment 1: the even vectors only
    Similarity.ivfAssignResumable(spark, all,
      all.filter(col("vec_id") % 2 === 0), store).count() shouldBe 5L
    // increment 2: everything — only the odd vectors are new
    val s2 = Similarity.ivfAssignResumable(spark, all, all, store)
    s2.count() shouldBe 10L
    s2.groupBy("vec_id").agg(count(lit(1)).as("n"))
      .filter(col("n") =!= 1).count() shouldBe 0L
    // increment 3: no-op
    Similarity.ivfAssignResumable(spark, all, all, store)
      .count() shouldBe 10L
    // assignments equal the from-scratch single-pass store
    val fresh = java.nio.file.Files
      .createTempDirectory("graft-ivf-fresh").toString + "/store"
    import spark.implicits._
    val viaIncrements = s2.select("vec_id", "list")
      .as[(Long, Long)].collect().sorted
    val fromScratch = Similarity
      .ivfAssignResumable(spark, all, all, fresh)
      .select("vec_id", "list").as[(Long, Long)].collect().sorted
    viaIncrements shouldBe fromScratch
    // and vectors landed on their true clusters
    fromScratch.foreach { case (id, list) => list shouldBe (id % 2) }
  }

  test("a vector duplicated WITHIN one batch is assigned exactly once") {
    val store = java.nio.file.Files
      .createTempDirectory("graft-ivf-dup").toString + "/store"
    val all = vecs(4)
    val withDup = all.unionByName(all.filter(col("vec_id") === 1))
    val s1 = Similarity.ivfAssignResumable(spark, all, withDup, store)
    s1.count() shouldBe 4L
    s1.groupBy("vec_id").agg(count(lit(1)).as("n"))
      .filter(col("n") =!= 1).count() shouldBe 0L
  }
}
