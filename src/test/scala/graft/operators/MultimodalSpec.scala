package graft.operators

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Unit coverage for the multimodal batch kernel outside the registry's
  * rows-only check: feature math on payloads with known statistics. */
class MultimodalSpec extends AnyFunSuite with Matchers with SparkSuite {

  test("features of known payloads via the registry kernel") {
    assume(new java.io.File("/root/testdata/sf0.001/documents.parquet").exists)
    val df = Multimodal.queries("q_mm_features")
      .run(spark, "/root/testdata/sf0.001")
    val rows = df.collect()
    rows.length should be > 0
    rows.foreach { r =>
      // 128-byte payload = md5 repeated 8x -> each of the <=16 distinct
      // bytes appears a multiple of 8 times -> entropy <= log2(16) = 4
      r.getAs[Int]("n_bytes") shouldBe 128
      val ent = r.getAs[Double]("entropy")
      ent should be > 0.0
      ent should be <= 4.0
      val mean = r.getAs[Double]("mean_byte")
      mean should be >= 0.0
      mean should be <= 255.0
      r.getAs[Int]("max_byte") should be <= 255
    }
  }

  test("decode metadata agrees with the frame-sample payload layout") {
    assume(new java.io.File("/root/testdata/sf0.001/documents.parquet").exists)
    val meta = Multimodal.queries("q_mm_decode_meta")
      .run(spark, "/root/testdata/sf0.001").collect()
    meta.foreach { r =>
      r.getAs[Int]("n_bytes") shouldBe 128
      val w = r.getAs[Long]("width")
      w should (be >= 16L and be <= 79L)
      val f = r.getAs[Long]("n_frames")
      f should (be >= 1L and be <= 8L)
      Set("image", "audio", "video") should contain(
        r.getAs[String]("media_type"))
    }
    // frame sampling keeps frames 0,2,4,6 of 8
    val frames = Multimodal.queries("q_mm_frame_sample")
      .run(spark, "/root/testdata/sf0.001").collect()
    frames.map(_.getAs[Int]("frame_idx")).distinct.sorted shouldBe
      Array(0, 2, 4, 6)
    frames.foreach(_.getAs[String]("frame_hex").length shouldBe 32)
  }
}
