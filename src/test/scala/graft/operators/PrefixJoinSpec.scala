package graft.operators

import graft.{SparkEntry, SparkSuite}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Completeness proof for q_dedup_ppjoin's prefix filter: on corpora
  * built to stress the bound (near-dup clusters straddling the τ = 0.5
  * threshold, duplicate docs, rare-token collisions), the
  * prefix-filtered pair set must equal a brute-force all-pairs Jaccard
  * scan over the same shingle space — the SSJoin guarantee is "no
  * false negatives", so any divergence is a bug, not noise. The
  * reference recomputes shingles and scores in plain Scala (split
  * semantics mirrored from the kernel: split(" ", -1), 3-gram windows,
  * distinct).
  */
class PrefixJoinSpec extends AnyFunSuite with Matchers with SparkSuite {

  private def shingleSet(text: String): Set[String] = {
    val ws = text.split(" ", -1)
    if (ws.length < 3) Set.empty
    else (0 until ws.length - 2)
      .map(i => s"${ws(i)} ${ws(i + 1)} ${ws(i + 2)}").toSet
  }

  private def brute(docs: Seq[(Long, String)],
      tauPpm: Long = 500000L): Set[(Long, Long, Long, Long)] = {
    val sets = docs.map { case (id, t) => id -> shingleSet(t) }
      .filter(_._2.nonEmpty)
    (for {
      i <- sets.indices; j <- (i + 1) until sets.length
      (id1, s1) = sets(i); (id2, s2) = sets(j)
      (d1, d2, a, b) =
        if (id1 < id2) (id1, id2, s1, s2) else (id2, id1, s2, s1)
      c = (a & b).size.toLong
      if c > 0
      jac = c * 1000000L / (a.size + b.size - c)
      if jac >= tauPpm
    } yield (d1, d2, c, jac)).toSet
  }

  private def writeDocs(docs: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ppj").toString
    docs.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def collectPairs(
      df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

  private def check(docs: Seq[(Long, String)]): Unit = {
    val dir = writeDocs(docs)
    collectPairs(SparkEntry.queries("q_dedup_ppjoin")(spark, dir)) shouldBe
      brute(docs)
    // the τ-parametric bounds must stay false-negative-free (and
    // false-positive-free: the final cut is exact rational jac ≥ τ) at
    // every production threshold the store's base prefix covers
    Seq(700000L, 800000L, 900000L).foreach { tau =>
      withClue(s"tauPpm=$tau") {
        val (out, caches) = Dedup.ppjoinPlan(spark, dir, tau)
        val got = collectPairs(out)
        caches.foreach(_.unpersist())
        got shouldBe brute(docs, tau)
      }
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("near-dup clusters straddling the threshold: no false negatives") {
    // base phrases recombined so pair similarities land above, at, and
    // below τ — including docs sharing ONLY rare trailing tokens
    val p = Vector("the quick brown fox jumps over the lazy dog",
      "pack my box with five dozen liquor jugs",
      "how vexingly quick daft zebras jump",
      "sphinx of black quartz judge my vow")
    val docs = Seq[(Long, String)](
      (1L, p(0)),
      (2L, p(0) + " extra tail"),                       // high overlap
      (3L, p(0) + " " + p(1)),                          // contains doc 1
      (4L, p(1)),
      (5L, p(1) + " " + p(2)),
      (6L, p(2) + " " + p(3)),                          // chains 5↔6
      (7L, p(3)),
      (8L, "totally unrelated words without any shared window"),
      (9L, p(0)),                                       // exact dup of 1
      (10L, "the quick brown fox sleeps over the lazy dog")) // 1 swap
    check(docs)
  }

  test("seeded random recombinations across 3 corpora: engine equals " +
      "brute force") {
    val rnd = new scala.util.Random(1234)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    (1 to 3).foreach { _ =>
      val docs = (1L to 30L).map { id =>
        val len = 4 + rnd.nextInt(10)
        val ws = Seq.fill(len)(vocab(rnd.nextInt(vocab.size)))
        (id, ws.mkString(" "))
      }
      check(docs)
    }
  }
}
