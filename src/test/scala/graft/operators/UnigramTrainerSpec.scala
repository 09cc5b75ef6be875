package graft.operators

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The unigram tokenizer's sequential kernel, cross-checked against
  * exhaustive enumeration: the Viterbi DP must return a segmentation
  * achieving the EXACT optimum of the integer objective
  * (Σ(40−⌊log₂ freq⌋)·32 + n_pieces, minimized) over ALL valid
  * segmentations — brute-forced here for every (word, vocab) case.
  * The deterministic tie-break and the distributed train/encode paths
  * are covered by the DuckDB oracle at three scale factors; this spec
  * proves the kernel's optimality claim, which the oracle (same
  * algorithm, different engine) cannot. */
class UnigramTrainerSpec extends AnyFunSuite with Matchers
    with SparkSuite {

  private def cost(f: Long): Long =
    40L - (java.lang.Long.toBinaryString(math.max(f, 1L)).length - 1)

  private def value(pieces: Seq[String], voc: Map[String, Long]): Long =
    pieces.map(p => cost(voc(p))).sum * 32 + pieces.length

  /** All segmentations of `w` into vocab pieces of length ≤ 4. */
  private def allSegs(w: String, voc: Map[String, Long]): Seq[Seq[String]] =
    if (w.isEmpty) Seq(Seq.empty)
    else (1 to math.min(4, w.length)).flatMap { l =>
      val p = w.substring(0, l)
      if (!voc.contains(p)) Seq.empty
      else allSegs(w.substring(l), voc).map(p +: _)
    }

  test("viterbi achieves the brute-force optimum on random (word, vocab) cases") {
    val rnd = new scala.util.Random(42)
    val alphabet = "abc"
    (1 to 200).foreach { _ =>
      val n = 1 + rnd.nextInt(8)
      val w = Seq.fill(n)(alphabet(rnd.nextInt(3))).mkString
      // chars always present (the trainer's invariant); longer
      // substrings included with probability 1/2, random frequencies
      val subs = (for {
        i <- 0 until n; l <- 2 to math.min(4, n - i)
      } yield w.substring(i, i + l)).distinct.filter(_ => rnd.nextBoolean())
      val voc = (alphabet.map(_.toString) ++ subs)
        .map(p => p -> (1L + rnd.nextInt(1000))).toMap
      val got = UnigramTrainer.viterbi(w, voc)
      got.mkString shouldBe w
      got.foreach(p => voc.keySet should contain(p))
      val best = allSegs(w, voc).map(value(_, voc)).min
      withClue(s"word=$w vocab=${voc.keys.toSeq.sorted}: ") {
        value(got, voc) shouldBe best
      }
    }
  }

  test("hand-computed golden: quantized costs pick the right pieces") {
    val voc = Map("a" -> 8L, "b" -> 4L, "ab" -> 16L, "abab" -> 2L)
    // abab as ONE rare 4-gram: 39·32+1 = 1249 beats ab|ab (72·32+2)
    UnigramTrainer.viterbi("abab", voc) shouldBe Seq("abab")
    // without the 4-gram the two bigrams win over four chars
    UnigramTrainer.viterbi("abab", voc - "abab") shouldBe Seq("ab", "ab")
    // prefix char + bigram beats three chars
    UnigramTrainer.viterbi("aab", voc) shouldBe Seq("a", "ab")
  }

  test("train keeps every character and is deterministic; encode compresses") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat"), (2L, "the cat sat on the mat"),
      (3L, "the bat sat"), (4L, "a cat a mat a bat"))
      .toDF("doc_id", "text")
    val v1 = UnigramTrainer.train(spark, docs)
    val v2 = UnigramTrainer.train(spark, docs)
    v1 shouldBe v2
    val pieces = v1.map(_.piece).toSet
    "thecastonmb".foreach(c => pieces should contain(c.toString))
    val enc = UnigramTrainer.encode(spark, docs, v1).collect()
    enc.length shouldBe 4
    enc.foreach { r =>
      r.getLong(2) should be <= r.getLong(1) // tokens_out ≤ chars_in
      r.getLong(2) should be > 0L
    }
  }
}
