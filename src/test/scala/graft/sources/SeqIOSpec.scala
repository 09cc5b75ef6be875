package graft.sources

import graft.SparkSuite
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class SeqIOSpec extends AnyFunSuite with Matchers with SparkSuite {

  test("FASTA round-trip and entry count") {
    val entries = Seq(("scan1", "PEPTIDEK"), ("scan2", "MKRSEQ"))
    val tmp = Files.createTempFile("graft", ".fasta").toString
    SeqIO.writeFasta(tmp, entries)
    val text = new String(Files.readAllBytes(Paths.get(tmp)), "ISO-8859-1")
    SeqIO.countFastaEntries(text) shouldBe 2
    SeqIO.parseFasta(text) shouldBe entries
    val df = SeqIO.readFasta(spark, Seq(tmp))
    df.count() shouldBe 2
    df.select("sequence").collect().map(_.getString(0)).sorted shouldBe
      Array("MKRSEQ", "PEPTIDEK")
    Files.delete(Paths.get(tmp))
  }

  test("FASTA parser joins multi-line sequences") {
    SeqIO.parseFasta(">h1\nABC\nDEF\n>h2\nGHI\n") shouldBe
      Seq(("h1", "ABCDEF"), ("h2", "GHI"))
  }

  test("tryptic digestion cleaves after K/R except before P") {
    SeqIO.trypticDigest("AKBRC") shouldBe Seq("AK", "BR", "C")
    // no cleavage before proline
    SeqIO.trypticDigest("AKPBR") shouldBe Seq("AKPBR")
    SeqIO.trypticDigest("NOCUT") shouldBe Seq("NOCUT")
    SeqIO.trypticDigest("ENDK") shouldBe Seq("ENDK")
  }

  test("rotate mutation matches the reference slice arithmetic") {
    // frag[:-5] + frag[-3:] + frag[-5:-3] for 'ABCDEFGH' = 'ABC'+'FGH'+'DE'
    SeqIO.mutateRotate("ABCDEFGH") shouldBe "ABCFGHDE"
    // short fragments still permute via Python's clamped negative slices:
    // 'ABCD' → ''+'BCD'+'A'; 'ABCDE' → ''+'CDE'+'AB'; len ≤ 3 unchanged
    SeqIO.mutateRotate("ABCD") shouldBe "BCDA"
    SeqIO.mutateRotate("ABCDE") shouldBe "CDEAB"
    SeqIO.mutateRotate("ABK") shouldBe "ABK"
    SeqIO.mutateRotate("K") shouldBe "K"
  }

  test("shuffle-end decoy is deterministic and a permutation") {
    val a = SeqIO.mutateShuffleEnd("PEPTIDESEQ")
    val b = SeqIO.mutateShuffleEnd("PEPTIDESEQ")
    a shouldBe b
    a.sorted shouldBe "PEPTIDESEQ".sorted
  }

  test("DeepNovo reader strips mods and commas, drops nan") {
    val tmp = Files.createTempFile("graft", ".tsv").toString
    Files.write(Paths.get(tmp),
      ("scan\toutput_seq\toutput_score\n" +
        "1\tP,E,P,mod,T\t0.9\n" +
        "2\tnan\t0.1\n").getBytes)
    val df = SeqIO.readDeepNovo(spark, tmp)
    val rows = df.collect()
    rows should have length 1
    rows.head.getAs[String]("sequence") shouldBe "PEPT"
    rows.head.getAs[Double]("score") shouldBe 0.9
    Files.delete(Paths.get(tmp))
  }

  test("Novor reader skips comments and strips PTM parens") {
    val tmp = Files.createTempFile("graft", ".novor.csv").toString
    Files.write(Paths.get(tmp),
      ("# novor output\n" +
        "1, 42, 10.5, 630.5, 2, 1200.1, 0.01, 1.1, 77.5, PEPT(Cam)IDE, 50-60\n")
        .getBytes)
    val df = SeqIO.readNovor(spark, tmp)
    val rows = df.collect()
    rows should have length 1
    rows.head.getAs[Long]("scan") shouldBe 42L
    rows.head.getAs[String]("sequence") shouldBe "PEPTIDE"
    rows.head.getAs[Double]("score") shouldBe 77.5
    Files.delete(Paths.get(tmp))
  }

  test("e-value threshold is ceil(p * median_len * n_seqs)") {
    SeqIO.evalueThreshold(10.0, 40, 0.05) shouldBe 20L
    SeqIO.evalueThreshold(9.5, 41, 0.05) shouldBe 20L
  }
}
