package graft.ms

import graft.SparkSuite
import graft.ms.ops.{Indexing, TensorizeOp}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Snakemake-parity resume for the tensorize and peak-count stages: a
  * partial re-run must recompute ONLY the slices/models missing from
  * the stage store. As in DecomposerSpec, the probe is the append-mode
  * store itself — a failed skip would append duplicate rows. */
class MsResumeSpec extends AnyFunSuite with Matchers with SparkSuite {

  /** One valid slice of peaks per rt_window: 2 samples × 6 cycles, two
    * m/z labels per MS level (all labels covered in every cycle, so the
    * ≥5-cycle partition filter keeps everything). MS2 rows sit 0.05 s
    * after their cycle's MS1 time, inside the final [t, t+0.1) bin. */
  private def slicePeaks(rtWindow: Int): Seq[AdjustedPeak] =
    for {
      file <- Seq("s0", "s1")
      cycle <- 0 until 6
      (level, mzs, dt) <- Seq((1, Seq(400f, 402f), 0f),
        (2, Seq(500f, 502f), 0.05f))
      mz <- mzs
    } yield AdjustedPeak(
      file = file, spectrum_index = cycle, level = level,
      rt = rtWindow * 60f + cycle * 5f + dt, mz = mz,
      intensity = 10f + cycle, prec_mz = 420f,
      swath_lower_adjusted = 400f, swath_upper_adjusted = 440f,
      rt_window = rtWindow)

  test("tensorizeResumable recomputes only slices missing from the store") {
    import spark.implicits._
    val store = java.nio.file.Files
      .createTempDirectory("graft-tensors").toString + "/store"
    val w0 = slicePeaks(0).toDS()
    val all = (slicePeaks(0) ++ slicePeaks(1)).toDS()

    // run 1 sees only rt_window 0 → one tensor lands in the store
    TensorizeOp.tensorizeResumable(spark, w0, 2000.0, store)
      .count() shouldBe 1

    // run 2 over the full table: only rt_window 1 is new work; a failed
    // skip would re-append the window-0 tensor
    val after = TensorizeOp.tensorizeResumable(spark, all, 2000.0, store)
    after.count() shouldBe 2
    after.collect().map(t => (t.swath_key, t.rt_window)).sorted shouldBe
      Array(("400.00", 0), ("400.00", 1))
    after.collect().foreach { t =>
      t.n_samples shouldBe 2
      t.n_cycles shouldBe 6
      t.n_mz shouldBe 4
    }

    // run 3 with nothing missing is a no-op
    TensorizeOp.tensorizeResumable(spark, all, 2000.0, store)
      .count() shouldBe 2

    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(store).getParentFile)
  }

  test("a tensor store whose first write was killed resumes and reads back complete") {
    import spark.implicits._
    val store = java.nio.file.Files
      .createTempDirectory("graft-tensors").toString + "/store"
    // a killed first write leaves the committer's `_temporary/` (here
    // with a task attempt's partial file) and no committed data file
    val attempt = new java.io.File(store, "_temporary/0/_temporary/attempt_0")
    attempt.mkdirs() shouldBe true
    java.nio.file.Files.write(new java.io.File(attempt, "part-00000.parquet").toPath,
      "PAR1".getBytes("UTF-8"))
    val all = (slicePeaks(0) ++ slicePeaks(1)).toDS()
    TensorizeOp.tensorizeResumable(spark, all, 2000.0, store)
      .collect().map(t => (t.swath_key, t.rt_window)).sorted shouldBe
      Array(("400.00", 0), ("400.00", 1))
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(store).getParentFile)
  }

  test("CandiaPipeline.run with all three stores is a no-op on re-run") {
    val scanDir = "/root/reference/test/test_experiment/samples/scans_mzml"
    val files = Seq(s"$scanDir/scan1.mzML", s"$scanDir/scan2.mzML")
    assume(new java.io.File(files.head).isFile)
    val base = java.nio.file.Files
      .createTempDirectory("graft-chain-resume").toString
    val config = graft.pipeline.CandiaConfig(
      parafacMinComp = 2, parafacMaxComp = 2, parafacMaxIter = 30)
    def runOnce() = graft.pipeline.CandiaPipeline.run(spark, files, config,
      tensorStorePath = Some(s"$base/tensors"),
      modelStorePath = Some(s"$base/models"),
      countStorePath = Some(s"$base/counts"))
    val first = runOnce()
    val (t1, m1, c1) = (first.tensors.count(), first.models.count(),
      first.peakCounts.count())
    t1 should be > 0L
    // second run resumes from all three stores: identical counts — a
    // failed skip in ANY stage would append duplicates to its store
    val second = runOnce()
    second.tensors.count() shouldBe t1
    second.models.count() shouldBe m1
    second.peakCounts.count() shouldBe c1
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  private def model(rtWindow: Int): ParafacModelRow = {
    val (nS, nC, nM, f) = (2, 6, 4, 2)
    ParafacModelRow("400.00", rtWindow, f, nS, nC, nM,
      Seq("s0", "s1"), Seq("400.0000_ms1", "402.0000_ms1",
        "500.0000_ms2", "502.0000_ms2"),
      sample_mode = Array.fill(nS * f)(1f),
      time_mode = Array.tabulate(nC * f)(i => 1f + (i % 3)),
      mass_mode = Array.fill(nM * f)(1f),
      rsq = 0.9, iterations = 10)
  }

  test("countTimeModePeaksResumable recomputes only missing models") {
    import spark.implicits._
    val store = java.nio.file.Files
      .createTempDirectory("graft-counts").toString + "/store"

    Indexing.countTimeModePeaksResumable(spark, Seq(model(0)).toDS(),
      5.0, 60.0, store).count() shouldBe 2 // ncomp rows

    val after = Indexing.countTimeModePeaksResumable(spark,
      Seq(model(0), model(1)).toDS(), 5.0, 60.0, store)
    after.count() shouldBe 4
    after.collect().map(c => (c.rt_window, c.comp_num)).sorted shouldBe
      Array((0, 0), (0, 1), (1, 0), (1, 1))

    Indexing.countTimeModePeaksResumable(spark,
      Seq(model(0), model(1)).toDS(), 5.0, 60.0, store)
      .count() shouldBe 4

    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(store).getParentFile)
  }
}
