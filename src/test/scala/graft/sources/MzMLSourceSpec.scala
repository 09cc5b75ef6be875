package graft.sources

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Golden tests against the reference's toy experiment
  * (/root/reference/test/test_experiment/samples/scans_mzml/ — 2 files ×
  * 114 spectra, RT 1000–1050 s, SWATHs starting ≈623 & ≈639; see
  * SURVEY.md §5.5). Read-only use of the reference test data as parser
  * input. */
class MzMLSourceSpec extends AnyFunSuite with Matchers with SparkSuite {

  private val scanDir = "/root/reference/test/test_experiment/samples/scans_mzml"
  private val files = Seq(s"$scanDir/scan1.mzML", s"$scanDir/scan2.mzML")

  private def haveToyData = new java.io.File(files.head).isFile

  test("derives the toy experiment's two isolation windows") {
    assume(haveToyData)
    val ws = MzMLSource.deriveWindowsLocal(files.head)
    ws should have size 2
    // scan1.mzML MS2 headers: targets 631.5 and 647.5, offsets 8.5
    ws.head._1 shouldBe 623.0 +- 1e-9
    ws.head._2 shouldBe 640.0 +- 1e-9
    ws(1)._1 shouldBe 639.0 +- 1e-9
    ws(1)._2 shouldBe 656.0 +- 1e-9
  }

  test("parses both toy files into tagged peak rows") {
    assume(haveToyData)
    val peaks = MzMLSource.read(spark, files).cache()
    val n = peaks.count()
    n should be > 0L

    import spark.implicits._
    val levels = peaks.map(_.level).distinct().collect().sorted
    levels shouldBe Array(1, 2)

    val files2 = peaks.map(_.file).distinct().collect().sorted
    files2 shouldBe Array("scan1", "scan2")

    // RT range of the toy data (scans_mzml/README.md: 1000–1050 s),
    // already in seconds
    val rts = peaks.map(_.rt)
    rts.reduce(math.min _) should be >= 1000.0
    rts.reduce(math.max _) should be <= 1051.0

    // every row's prec_mz lies inside its recorded window
    peaks.filter(p =>
      p.prec_mz < p.prec_isolation_window_start ||
        p.prec_mz >= p.prec_isolation_window_end
    ).count() shouldBe 0L

    // MS1 rows carry prec_mz == mz (msproc.py:158-160)
    peaks.filter(p => p.level == 1 && p.prec_mz != p.mz).count() shouldBe 0L
    peaks.unpersist()
  }

  test("min-intensity filter drops only MS2 peaks") {
    assume(haveToyData)
    import spark.implicits._
    val all = MzMLSource.read(spark, Seq(files.head)).cache()
    val filtered = MzMLSource.read(spark, Seq(files.head), minIntensity = 5.0)
      .cache()
    val ms1All = all.filter(_.level == 1).count()
    val ms1Filt = filtered.filter(_.level == 1).count()
    ms1Filt shouldBe ms1All
    filtered.filter(p => p.level == 2 && p.intensity < 5.0).count() shouldBe 0L
    filtered.count() should be < all.count()
    all.unpersist(); filtered.unpersist()
  }

  test("parses zlib-compressed binary arrays") {
    // synthesize a minimal mzML with a zlib 64-bit m/z array and an
    // uncompressed 32-bit intensity array
    def b64z(doubles: Array[Double]): String = {
      val bb = java.nio.ByteBuffer.allocate(doubles.length * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      doubles.foreach(bb.putDouble)
      val deflater = new java.util.zip.Deflater()
      deflater.setInput(bb.array()); deflater.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](256)
      while (!deflater.finished()) out.write(buf, 0, deflater.deflate(buf))
      java.util.Base64.getEncoder.encodeToString(out.toByteArray)
    }
    def b64f(floats: Array[Float]): String = {
      val bb = java.nio.ByteBuffer.allocate(floats.length * 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      floats.foreach(bb.putFloat)
      java.util.Base64.getEncoder.encodeToString(bb.array())
    }
    val xml =
      s"""<?xml version="1.0" encoding="ISO-8859-1"?>
         |<mzML xmlns="http://psi.hupo.org/ms/mzml">
         |<run><spectrumList count="1">
         |<spectrum index="0" defaultArrayLength="2">
         |<cvParam accession="MS:1000511" name="ms level" value="1"/>
         |<scanList count="1"><scan>
         |<cvParam accession="MS:1000016" name="scan start time" value="2.0" unitName="minute"/>
         |</scan></scanList>
         |<binaryDataArrayList count="2">
         |<binaryDataArray><cvParam accession="MS:1000514" name="m/z array"/>
         |<cvParam accession="MS:1000523" name="64-bit float"/>
         |<cvParam accession="MS:1000574" name="zlib compression"/>
         |<binary>${b64z(Array(450.25, 451.5))}</binary></binaryDataArray>
         |<binaryDataArray><cvParam accession="MS:1000515" name="intensity array"/>
         |<cvParam accession="MS:1000521" name="32-bit float"/>
         |<binary>${b64f(Array(10.0f, 20.0f))}</binary></binaryDataArray>
         |</binaryDataArrayList></spectrum></spectrumList></run></mzML>
         |""".stripMargin
    val tmp = java.nio.file.Files.createTempFile("graft", ".mzML")
    java.nio.file.Files.write(tmp, xml.getBytes("ISO-8859-1"))
    val peaks = MzMLSource
      .parseFile(tmp.toString, Array((400.0, 500.0)), 0.0).toSeq
    peaks should have length 2
    peaks.map(_.mz) shouldBe Seq(450.25, 451.5)
    peaks.map(_.intensity) shouldBe Seq(10.0, 20.0)
    // minute unit → seconds
    peaks.head.rt shouldBe 120.0
    // MS1: prec_mz == mz, tagged into the supplied window
    peaks.head.prec_mz shouldBe 450.25
    peaks.head.prec_isolation_window_start shouldBe 400.0
    java.nio.file.Files.delete(tmp)
  }

  test("round-half-even matches numpy semantics") {
    MzMLSource.roundHalfEven(0.5, 0) shouldBe 0.0
    MzMLSource.roundHalfEven(1.5, 0) shouldBe 2.0
    MzMLSource.roundHalfEven(2.5, 0) shouldBe 2.0
    MzMLSource.roundHalfEven(1.2345678949, 8) shouldBe 1.23456789 +- 1e-12
  }
}
