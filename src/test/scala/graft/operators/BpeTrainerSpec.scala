package graft.operators

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Golden check: the distributed BPE trainer must learn the same merge
  * table as an independent sequential implementation of the Sennrich
  * algorithm (count pairs over the word-frequency vocabulary, take the
  * (count desc, left, right) argmax, merge, repeat). */
class BpeTrainerSpec extends AnyFunSuite with Matchers with SparkSuite {

  /** Sequential reference: deliberately written in the most direct way
    * possible (nested maps, full recount each rank). */
  private def referenceMerges(
      corpus: Seq[String], k: Int): Seq[(Int, String, String, Long)] = {
    var vocab: Map[Vector[String], Long] = corpus
      .flatMap(_.split(" ").filter(_.nonEmpty))
      .groupBy(identity).map { case (w, ws) =>
        w.map(_.toString).toVector -> ws.size.toLong
      }
    (1 to k).flatMap { rank =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (sym, c) =>
        sym.sliding(2).filter(_.size == 2).foreach { p =>
          counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + c
        }
      }
      if (counts.isEmpty) None
      else {
        val ((l, r), cnt) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        vocab = vocab.groupBy { case (sym, _) =>
          BpeTrainer.mergeSeq(sym.toArray, l, r).toVector
        }.map { case (sym, entries) => sym -> entries.values.sum }
        Some((rank, l, r, cnt))
      }
    }
  }

  test("distributed trainer matches the sequential reference") {
    import spark.implicits._
    // the classic BPE example corpus (word frequencies 5/2/6/3) plus
    // tie-bait: "ab" and "ba" both twice → tie broken lexicographically
    val corpus = Seq(
      "low low low low low lower lower",
      "newest newest newest newest newest newest",
      "widest widest widest ab ab ba ba")
    val docs = corpus.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = BpeTrainer.train(spark, docs, 6).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    got shouldBe referenceMerges(corpus, 6)
  }

  test("merge application is left-to-right non-overlapping") {
    BpeTrainer.mergeSeq(Array("a", "a", "a"), "a", "a").toSeq shouldBe
      Seq("aa", "a")
    BpeTrainer.mergeSeq(Array("a", "b", "a", "b"), "a", "b").toSeq shouldBe
      Seq("ab", "ab")
  }

  test("windowed apply model (the DuckDB oracle's rule) equals mergeSeq") {
    // The BPE oracle unrolls each greedy merge application into window
    // functions: for l ≠ r every adjacent occurrence merges (overlap
    // would force r = l); for l = r the left-to-right scan merges at
    // EVEN relative offsets within each maximal same-symbol run. This
    // model must equal the sequential kernel on every input — the whole
    // soundness argument of the q_text_bpe_* oracles, checked here by
    // exhaustive enumeration over a small alphabet (covers runs,
    // alternations, and boundary cases far past any hand-picked list).
    def windowedModel(sym: Array[String], l: String, r: String): Seq[String] = {
      val n = sym.length
      // islands: run id per position over equal consecutive symbols
      val runId = new Array[Int](n)
      for (i <- 1 until n)
        runId(i) = if (sym(i) == sym(i - 1)) runId(i - 1) else runId(i - 1) + 1
      val rel = new Array[Int](n)
      for (i <- 1 until n)
        rel(i) = if (runId(i) == runId(i - 1)) rel(i - 1) + 1 else 0
      val mstart = Array.tabulate(n) { i =>
        i + 1 < n && sym(i) == l && sym(i + 1) == r &&
          (l != r || rel(i) % 2 == 0)
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < n) {
        if (mstart(i)) { out += (l + r); i += 2 } // consumed = lag(mstart)
        else { out += sym(i); i += 1 }
      }
      out.toSeq
    }
    val alphabet = Seq("a", "b")
    def seqs(len: Int): Seq[List[String]] =
      if (len == 0) Seq(Nil)
      else for (s <- seqs(len - 1); c <- alphabet) yield c :: s
    for {
      len <- 0 to 7
      s <- seqs(len)
      l <- alphabet
      r <- alphabet
    } {
      val arr = s.toArray
      withClue(s"seq=$s merge=($l,$r): ") {
        windowedModel(arr, l, r) shouldBe
          BpeTrainer.mergeSeq(arr, l, r).toSeq
      }
    }
    // multi-char merged symbols (later ranks): runs of "ab" etc.
    val syms2 = Seq("ab", "a", "b")
    def seqs2(len: Int): Seq[List[String]] =
      if (len == 0) Seq(Nil)
      else for (s <- seqs2(len - 1); c <- syms2) yield c :: s
    for {
      s <- seqs2(5)
      l <- syms2
      r <- syms2
    } {
      val arr = s.toArray
      withClue(s"seq=$s merge=($l,$r): ") {
        windowedModel(arr, l, r) shouldBe
          BpeTrainer.mergeSeq(arr, l, r).toSeq
      }
    }
  }

  test("encode reports the compression the learned merges buy") {
    import spark.implicits._
    val docs = Seq((1L, "aaaa aaaa"), (2L, "xy"))
      .toDF("doc_id", "text")
    // merges: (a,a) -> aa, (aa,aa) -> aaaa: "aaaa" = 4 chars -> 1 token
    val out = BpeTrainer
      .encode(spark, docs, Seq(("a", "a"), ("aa", "aa")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    out(0) shouldBe ((1L, 8L, 2L, 0.25))
    out(1) shouldBe ((2L, 2L, 2L, 1.0))
  }
}
