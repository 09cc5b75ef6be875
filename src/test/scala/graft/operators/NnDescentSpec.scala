package graft.operators

import java.nio.file.Files

import graft.{SparkEntry, SparkSuite}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Properties of the NN-descent round beyond the sf0.01 oracle.
  *
  * The central one is a THEOREM about the construction, asserted on
  * randomized corpora: refined recall can never drop below seed
  * recall. Proof shape: the candidate set contains every seed edge,
  * and the refine step ranks candidates by the SAME full-dimension
  * cosine that defines the truth set — so if a seed edge (a, b) is in
  * truth (b is top-k for a by full cosine over ALL within-list pairs),
  * no 4 candidates can outrank b without also being in truth
  * themselves, hence b survives the refine cut. A regression that
  * breaks the candidate union, the tie-breaks, or the rescore metric
  * breaks this invariant before any oracle diff would localize it. */
class NnDescentSpec extends AnyFunSuite with Matchers with SparkSuite {

  private def writeCorpus(seed: Long, n: Int, dims: Int, labels: Int): String = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val rows = (0 until n).map { i =>
      (i.toLong, Array.fill(dims)(rnd.nextFloat() * 2f - 1f), i % labels)
    }
    val d = Files.createTempDirectory("graft-nnd").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$d/embeddings.parquet")
    d
  }

  test("refined recall is monotone: nnd >= seed on every list, every seed") {
    Seq(7L, 23L, 101L).foreach { seed =>
      val dir = writeCorpus(seed, n = 120, dims = 16, labels = 3)
      val rows = SparkEntry.queries("q_sim_nn_descent")(spark, dir).collect()
      withClue(s"seed=$seed") {
        rows should not be empty
        rows.foreach { r =>
          withClue(s"label=${r.get(0)}") {
            r.getAs[Long]("nnd_recall_ppm") should be >=
              r.getAs[Long]("seed_recall_ppm")
          }
        }
      }
    }
  }

  test("adversarial prefix: misleading first dims recover via the refine round") {
    import spark.implicits._
    // vectors whose FIRST 8 dims are anti-correlated with the full-dim
    // structure: prefix-8 cosine pairs each vector with the WRONG
    // cluster, so the seed graph starts near-blind — the two-hop
    // expansion plus full-dim rescore must still lift recall (and by
    // the monotonicity theorem can never lower it)
    val rnd = new scala.util.Random(5L)
    def vec(cluster: Int, i: Int): Array[Float] = {
      // prefix block: identical across clusters except tiny noise with
      // CROSSED sign structure; suffix block: strong cluster signal
      val prefix = Array.fill(8)((if ((i + cluster) % 2 == 0) 1f else -1f)
        + rnd.nextFloat() * 0.01f)
      val suffix = Array.fill(24)(
        (if (cluster == 0) 1f else -1f) + rnd.nextFloat() * 0.1f)
      prefix ++ suffix
    }
    val rows = (0 until 60).map { i =>
      val cluster = i % 2
      (i.toLong, vec(cluster, i), 0) // ONE list: worst case for the kernel
    }
    val d = Files.createTempDirectory("graft-nnd-adv").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$d/embeddings.parquet")
    val out = SparkEntry.queries("q_sim_nn_descent")(spark, d).collect()
    out.length shouldBe 1
    val seedR = out(0).getAs[Long]("seed_recall_ppm")
    val nndR = out(0).getAs[Long]("nnd_recall_ppm")
    nndR should be >= seedR
    // the refine round must add real recall here, not just not-lose it
    nndR should be > seedR
  }
}
