package graft.ms

import graft.SparkSuite
import graft.ms.ops.Decomposer
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** skip_completed resume semantics (decompose_parafac.py:74-76): a
  * partial re-run must decompose ONLY missing (slice, F) pairs. The
  * probe is the append-mode store itself — if the anti-join failed to
  * skip completed pairs, re-running would append duplicates. */
class DecomposerSpec extends AnyFunSuite with Matchers with SparkSuite {

  /** A small non-trivial synthetic tensor (3 samples × 5 cycles × 4 mz). */
  private def tensor(key: String, rt: Int): SliceTensor = {
    val (nS, nC, nM) = (3, 5, 4)
    val data = Array.tabulate(nS * nC * nM) { i =>
      (1.0 + (i % 7) + 0.5 * (i % 3)).toFloat
    }
    SliceTensor(key, rt, Seq("s0", "s1", "s2"),
      (1 to nM).map(m => s"$m.0000_ms2"), nS, nC, nM, data)
  }

  test("resumable run skips completed (slice, F) pairs on re-run") {
    import spark.implicits._
    val store = java.nio.file.Files
      .createTempDirectory("graft-models").toString + "/store"
    val slices = Seq(tensor("100.00", 0), tensor("100.00", 1)).toDS()

    // run 1: F = 2 only → 2 models land in the store
    Decomposer.runResumable(spark, slices, 2, 2, store, maxIter = 30)
      .count() shouldBe 2

    // run 2 widens to F ∈ [2, 3]: only the two F=3 pairs are new work
    val afterWiden = Decomposer.runResumable(spark, slices, 2, 3, store,
      maxIter = 30)
    afterWiden.count() shouldBe 4
    afterWiden.collect().map(m => (m.swath_key, m.rt_window, m.ncomp))
      .sorted shouldBe Array(
      ("100.00", 0, 2), ("100.00", 0, 3), ("100.00", 1, 2), ("100.00", 1, 3))

    // run 3 with nothing missing must be a no-op: a failed skip would
    // append duplicate rows
    Decomposer.runResumable(spark, slices, 2, 3, store, maxIter = 30)
      .count() shouldBe 4

    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(store).getParentFile)
  }

  test("work list spreads 4 slices × F 10–14 from one partition evenly") {
    import spark.implicits._
    val slices = (0 until 4).map(tensor("100.00", _)).toDS().coalesce(1)
    slices.rdd.getNumPartitions shouldBe 1
    val sizes = Decomposer.workList(spark, slices, 10, 14)
      .glom().map(_.length).collect()
    val units = 4 * 5
    val n = math.min(units, 4 * spark.sparkContext.defaultParallelism)
    sizes.length shouldBe n
    sizes.sum shouldBe units
    sizes.max should be <= (units + n - 1) / n
  }

  test("run and runResumable give identical model rows") {
    import spark.implicits._
    val slices = (0 until 4).map(tensor("100.00", _)).toDS().coalesce(1)
    def rows(ds: org.apache.spark.sql.Dataset[ParafacModelRow]) =
      ds.collect().map(m => (m.swath_key, m.rt_window, m.ncomp, m.samples,
        m.mz_indices, m.sample_mode.toSeq, m.time_mode.toSeq,
        m.mass_mode.toSeq, m.rsq, m.iterations)).sortBy(r => (r._2, r._3))
    val dir = java.nio.file.Files.createTempDirectory("graft-models")
    try {
      val viaRun = rows(Decomposer.run(spark, slices, 10, 14, maxIter = 30))
      val viaResume = rows(Decomposer.runResumable(spark, slices, 10, 14,
        dir.toString + "/store", maxIter = 30))
      viaRun.length shouldBe 20
      viaResume shouldBe viaRun
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
