package graft.pipeline

import graft.SparkSuite
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** End-to-end smoke over the reference's toy experiment (SURVEY §7.2):
  * 2 mzML scans → adjust → slice → tensorize → PARAFAC → select →
  * mzXML export. F range and iterations are reduced vs the reference
  * toy config (F∈[10,14], 5000 iters) to keep CI fast — the numerics
  * at full settings are covered by NNParafacSpec's golden test. */
class CandiaPipelineSpec extends AnyFunSuite with Matchers with SparkSuite {

  private val scanDir = "/root/reference/test/test_experiment/samples/scans_mzml"
  private val files = Seq(s"$scanDir/scan1.mzML", s"$scanDir/scan2.mzML")
  private def haveToyData = new java.io.File(files.head).isFile

  test("slice checkpoint round-trips the peak table losslessly") {
    assume(haveToyData)
    import spark.implicits._
    val config = CandiaConfig(parafacMinComp = 2, parafacMaxComp = 2)
    val direct = CandiaPipeline.ingest(spark, files, config).persist()
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val viaDisk = CandiaPipeline.checkpointSlices(spark, direct, dir)
    viaDisk.count() shouldBe direct.count()
    // identical multisets of rows (sorted comparison over a projection)
    val key = (p: graft.ms.AdjustedPeak) =>
      (p.file, p.spectrum_index, p.mz, p.intensity, p.rt_window)
    viaDisk.collect().map(key).sorted shouldBe
      direct.collect().map(key).sorted
    direct.unpersist()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("toy experiment runs end-to-end through selection and export") {
    assume(haveToyData)
    import spark.implicits._
    val config = CandiaConfig(
      minScanIntensity = 1.0, windowSizeSec = 60.0, massTolPpm = 40.0,
      parafacMinComp = 2, parafacMaxComp = 3, parafacMaxIter = 60)
    val result = CandiaPipeline.run(spark, files, config)

    // stage 1-3: both samples present, both MS levels, 2 adjusted swaths
    val peaks = result.peaks.persist()
    peaks.map(_.file).distinct().count() shouldBe 2
    peaks.map(_.level).distinct().collect().sorted shouldBe Array(1, 2)
    val swaths = peaks.map(p => f"${p.swath_lower_adjusted}%.2f")
      .distinct().collect().sorted
    swaths should have length 2
    // toy SWATHs start at 623 and ~639.5 (midpoint-adjusted boundary)
    swaths.head shouldBe "623.00"

    // stage 4: one tensor per (swath, rt_window), 2 samples each
    val tensors = result.tensors.collect()
    tensors.length should be >= 1
    tensors.foreach { t =>
      t.n_samples shouldBe 2
      t.n_cycles should be >= 3
      t.n_mz should be >= 3
      t.data.length shouldBe t.n_samples * t.n_cycles * t.n_mz
    }

    // stage 5: one model per (slice, F); R^2 in (0, 1]
    val models = result.models.collect()
    models.length shouldBe tensors.length * 2
    models.foreach { m =>
      m.rsq should be > 0.0
      m.rsq should be <= 1.0
      m.iterations should be > 0
    }

    // stage 6-8: selection returns at least one best model per slice
    // with any unimodal component
    val best = result.bestModels.collect()
    best.length should be >= 0 // may legitimately be empty on tiny F range
    if (best.nonEmpty) {
      // stage 9 prep: export writes a well-formed indexed mzXML whose
      // scan ids are GLOBAL spectrum-index ordinals
      val out = Files.createTempFile("graft-e2e", ".mzXML").toString
      val n = CandiaPipeline.exportBestSpectra(spark, result, out)
      val content = new String(Files.readAllBytes(Paths.get(out)), "ISO-8859-1")
      content should include(s"""<msRun scanCount="$n">""")
      content should include("<indexOffset>")
      val exportedScans = "<scan num=\"(\\d+)\"".r
        .findAllMatchIn(content).map(_.group(1).toLong).toSet
      val indexScans = result.spectrumIndex
        .select("scan").collect().map(_.getLong(0)).toSet
      exportedScans.subsetOf(indexScans) shouldBe true

      // stage 9 back-half round-trip: a mock search-engine PSM table over
      // the exported scans gathers back and joins abundances by scan id
      if (exportedScans.nonEmpty) {
        val psmDir = Files.createTempDirectory("graft-psms").toString
        val tsv = "scan\tcharge\tsequence\n" +
          exportedScans.toSeq.sorted.map(s => s"$s\t2\tPEPTIDEK").mkString("\n") + "\n"
        Files.write(Paths.get(s"$psmDir/models_Q1_crux.tsv"), tsv.getBytes("UTF-8"))
        val psms = graft.sources.PsmGather.readPsmTables(
          spark, Seq(s"$psmDir/models_Q1_crux.tsv"))
        // stage 8: abundances come from BEST models only
        // (collect_sample_modes.py reads best_models.csv)
        val (sampleModes, abundances) =
          CandiaPipeline.collectSampleModes(spark, result)
        val bestKeySet = best.map(r => (
          r.getAs[String]("swath_start_key"), r.getAs[Int]("rt_window"),
          r.getAs[Int]("ncomp"))).toSet
        sampleModes.select("swath_key", "rt_window", "ncomp").distinct()
          .collect()
          .map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
          .foreach(k => bestKeySet should contain(k))
        val joined = psms.join(abundances, "scan")
        joined.count() should be > 0L
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(psmDir))
      }
      Files.delete(Paths.get(out))
    }
    peaks.unpersist()
  }

  test("stage 9 chains export → comet target/decoy → percolator → PSM gather") {
    assume(haveToyData)
    val config = CandiaConfig(
      minScanIntensity = 1.0, windowSizeSec = 60.0, massTolPpm = 40.0,
      parafacMinComp = 2, parafacMaxComp = 3, parafacMaxIter = 60)
    val result = CandiaPipeline.run(spark, files, config)
    assume(result.bestModels.count() > 0)

    val work = Files.createTempDirectory("graft-stage9").toString
    val idc = IdentifyConfig(
      database = "library.fasta", decoyDatabase = "library_decoy.fasta",
      decoyPrefix = "reverse_", percolatorFdr = 0.01)
    val goldenPsms = "scan\tq-value\tsequence\n" +
      "1\t0.001\tPEPTIDEK\n2\t0.004\tSAMPLERK\n"
    val calls = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    // mock search engine: records argv, writes the artifacts the next
    // stage consumes (the reference's crux output filenames)
    val mock = new graft.ext.ToolRunner {
      override def run(
          command: Seq[String], env: Map[String, String]): Int = {
        calls += command
        val outDir = command(command.indexOf("--output-dir") + 1)
        Files.createDirectories(Paths.get(outDir))
        command(1) match {
          case "comet" =>
            Files.write(Paths.get(s"$outDir/comet.target.txt"),
              "scan\txcorr\n1\t2.5\n".getBytes("UTF-8"))
          case "percolator" =>
            Files.write(Paths.get(s"$outDir/percolator.target.psms.txt"),
              goldenPsms.getBytes("UTF-8"))
        }
        0
      }
    }
    val (nScans, psms) =
      CandiaPipeline.identifyBestSpectra(spark, result, work, idc, mock, config)
    nScans should be > 0
    // the export artifact exists and is what both comet calls search
    Files.exists(Paths.get(s"$work/best_models.mzXML")) shouldBe true
    calls should have length 3
    calls(0).take(2) shouldBe Seq("crux", "comet")
    calls(0) should contain(s"$work/best_models.mzXML")
    calls(0).last shouldBe "library.fasta"
    calls(1).take(2) shouldBe Seq("crux", "comet")
    calls(1).last shouldBe "library_decoy.fasta"
    // percolator consumes the two comet outputs from the dirs the comet
    // calls were pointed at — the artifact handoff under test
    calls(2).take(2) shouldBe Seq("crux", "percolator")
    calls(2) should contain(s"$work/crux_out/comet_target/comet.target.txt")
    calls(2) should contain(s"$work/crux_out/comet_decoy/comet.target.txt")
    calls(2) should contain("reverse_")
    // the gathered PSM table is the percolator output, with provenance
    psms.count() shouldBe 2
    psms.columns should contain allOf ("scan", "sequence", "file", "quality")

    // a failing tool aborts the chain loudly instead of gathering stale
    // or missing artifacts
    val failing = new graft.ext.ToolRunner {
      override def run(
          command: Seq[String], env: Map[String, String]): Int = 1
    }
    val ex = intercept[IllegalStateException] {
      CandiaPipeline.identifyBestSpectra(
        spark, result, work, idc, failing, config)
    }
    ex.getMessage should include("crux comet")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(work))
  }
}
