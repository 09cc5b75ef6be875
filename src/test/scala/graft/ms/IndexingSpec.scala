package graft.ms

import graft.SparkSuite
import graft.ms.ops.Indexing
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Port of the reference's exact-table golden test `test_index_all_spectra`
  * (models.py:206-225): the model grid is swath-major → rt_window → ncomp
  * with model_id = row ordinal; the spectrum index explodes components
  * with a globally ordered scan ordinal. */
class IndexingSpec extends AnyFunSuite with Matchers with SparkSuite {

  test("spectrum index matches the reference's expected table exactly") {
    import spark.implicits._
    // swath cents-keys 0 and 1 (lower bounds 0.00, 0.01), 2 RT windows,
    // F in [1, 2] — the reference's 2x2x{1,2} grid
    val windows = Seq(0.0, 0.01).toDF("swath_lower_adjusted")
    val modelIndex = Indexing.modelIndex(spark, windows,
      nRtWindows = 2, fMin = 1, fMax = 2)
    val spectrumIndex = Indexing.spectrumIndex(modelIndex)

    val got = spectrumIndex
      .select("swath_start", "rt_window", "ncomp", "model_id",
        "spectrum_num", "scan")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .sortBy(_._6)

    val expected = Seq( // models.py:213-224
      (0L, 0, 1, 0L, 0L, 0L),
      (0L, 0, 2, 1L, 0L, 1L),
      (0L, 0, 2, 1L, 1L, 2L),
      (0L, 1, 1, 2L, 0L, 3L),
      (0L, 1, 2, 3L, 0L, 4L),
      (0L, 1, 2, 3L, 1L, 5L),
      (1L, 0, 1, 4L, 0L, 6L),
      (1L, 0, 2, 5L, 0L, 7L),
      (1L, 0, 2, 5L, 1L, 8L),
      (1L, 1, 1, 6L, 0L, 9L),
      (1L, 1, 2, 7L, 0L, 10L),
      (1L, 1, 2, 7L, 1L, 11L))

    got.toSeq shouldBe expected
  }

  test("cents key matches the reference's uint32(np.round(lower*100))") {
    import spark.implicits._
    // np.round is HALF-EVEN: 400.005·100 is exactly 40000.5 in binary →
    // 40000 (verified against numpy; a HALF_UP key would give 40001 and
    // disagree with the reference AND the half-even string keys)
    val df = Seq(623.0, 639.495, 400.005).toDF("v")
      .select(Indexing.centsKey(org.apache.spark.sql.functions.col("v")).as("k"))
    df.collect().map(_.getLong(0)).sorted shouldBe Array(40000L, 62300L, 63950L)
  }

  test("driver-side cents equals centsKey, ties and shortest-decimal cases included") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // half-cent ties (400.005, 412.125), values whose shortest decimal
    // and exact binary round differently (2.675, 1.005, 0.285), float
    // window bounds, and random 3-dp and float values
    val vs = Seq(400.005, 412.125, 2.675, 1.005, 0.285, 639.495, 623.0,
      412.125f.toDouble, 2.675f.toDouble, 639.495f.toDouble) ++
      Seq.fill(500)(rnd.nextInt(1000000) / 1000.0) ++
      Seq.fill(500)((300f + 1200f * rnd.nextFloat()).toDouble)
    val got = vs.toDF("v")
      .select(col("v"), Indexing.centsKey(col("v")).as("k"))
      .collect().map(r => r.getDouble(0) -> r.getLong(1))
    got.foreach { case (v, k) => withClue(v)(Indexing.cents(v) shouldBe k) }
  }
}
