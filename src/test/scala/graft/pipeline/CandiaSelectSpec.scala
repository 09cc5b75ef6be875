package graft.pipeline

import java.nio.file.{Files, Paths}

import graft.{Metrics, SparkSuite}
import graft.ms.{AdjustedPeak, ComponentPeaks, ParafacModelRow, SliceTensor}
import graft.ms.ops.{Decomposer, Indexing, TensorizeOp}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import CandiaSelectSpec.Fixture

/** `CandiaPipeline.select` (the driver path of stages 6–8) against the
  * relational path the registry queries compose — `Indexing.modelIndex`
  * → `peakCountsWithModelId` → `bestModels` → `spectrumIndex`, as the
  * benchmark's traced pipeline composes them — on an in-memory fixture
  * built to hit every selection rule: 2 isolation windows (one lower
  * bound on a half-cent tie, 412.125) × 3 RT windows, the last without a
  * tensor, F 2–4, ties at the maximum unimodal fraction, and models with
  * zero unimodal components. */
object CandiaSelectSpec {
  final case class Fixture(
      peaks: Dataset[AdjustedPeak],
      tensors: Dataset[SliceTensor],
      models: Dataset[ParafacModelRow],
      counts: Dataset[ComponentPeaks])
}

class CandiaSelectSpec extends AnyFunSuite with Matchers with SparkSuite {

  private val cfg = CandiaConfig(parafacMinComp = 2, parafacMaxComp = 4)
  private val lower = Map(0 -> 400.0f, 1 -> 412.125f)
  private val upper = Map(0 -> 412.125f, 1 -> 425.0f)
  private val swathKey = Map(0 -> "400.00", 1 -> "412.12") // Tensorizer.swathKey
  private val files = Seq("s1", "s2", "s3")

  /** npeaks per component, by (window, rt_window) and F. RT window 2
    * has peaks but no tensor, so no models and no counts: the grid, and
    * with it every model_id and scan, still counts it. */
  private val npeaks: Map[(Int, Int), Map[Int, Seq[Int]]] = Map(
    (0, 0) -> Map(2 -> Seq(1, 2), 3 -> Seq(1, 1, 2), 4 -> Seq(1, 1, 2, 2)),
    (0, 1) -> Map(2 -> Seq(1, 2), 3 -> Seq(1, 2, 2), 4 -> Seq(1, 1, 2, 3)),
    (1, 0) -> Map(2 -> Seq(0, 2), 3 -> Seq(2, 2, 3), 4 -> Seq(1, 0, 0, 2)),
    (1, 1) -> Map(2 -> Seq(1, 1), 3 -> Seq(1, 1, 1), 4 -> Seq(1, 1, 1, 2)))

  private val expectedBest = Set(
    ("400.00", 0, 3), ("400.00", 1, 2), ("400.00", 1, 4),
    ("412.12", 0, 4), ("412.12", 1, 2), ("412.12", 1, 3))

  private lazy val slicesDir = Files.createTempDirectory("graft-select").toString

  private lazy val fixture: Fixture = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val peaks = for {
      w <- Seq(1, 0); rt <- 0 to 2; (f, i) <- files.zipWithIndex
      lvl <- Seq(1, 2)
    } yield AdjustedPeak(f, rt * 10 + i, lvl, rt * 60f + 10f + i,
      500f + 10f * i + lvl, 100f + rnd.nextInt(900), lower(w) + 5f,
      lower(w), upper(w), rt)
    val nMz = 4
    val labels = Map( // window 0 carries an MS1 label, window 1 only MS2
      0 -> Seq("405.0000_ms1", "500.2500_ms2", "611.5000_ms2", "702.1250_ms2"),
      1 -> Seq("420.5000_ms2", "533.0000_ms2", "640.7500_ms2", "801.3750_ms2"))
    def floats(n: Int) = Array.fill(n)(0.05f + rnd.nextFloat())
    val slices = npeaks.keys.toSeq.sorted
    val tensors = slices.map { case (w, rt) =>
      SliceTensor(swathKey(w), rt, files, labels(w), files.size, 5, nMz,
        floats(files.size * 5 * nMz))
    }
    val models = for ((w, rt) <- slices; f <- 2 to 4) yield
      ParafacModelRow(swathKey(w), rt, f, files.size, 5, nMz, files, labels(w),
        floats(files.size * f), floats(5 * f), floats(nMz * f),
        0.5 + rnd.nextDouble() / 2, 10 + f)
    val counts = for {
      ((w, rt), byF) <- npeaks.toSeq; (f, ns) <- byF.toSeq
      (n, k) <- ns.zipWithIndex
    } yield ComponentPeaks(swathKey(w), rt, f, k, n)
    Fixture(
      CandiaPipeline.checkpointSlices(spark, rnd.shuffle(peaks).toDS(), slicesDir),
      tensors.toDS().persist(), models.toDS().persist(), counts.toDS().persist())
  }

  override def afterAll(): Unit =
    try FileUtils.deleteDirectory(new java.io.File(slicesDir))
    finally super.afterAll()

  /** The relational path, composed as the benchmark's traced pipeline
    * composes it. */
  private def relational(fx: Fixture): CandiaResult = {
    val windows = fx.peaks.toDF().select(col("swath_lower_adjusted")).distinct()
    val nRt = fx.peaks.toDF().agg(max(col("rt_window"))).head().getInt(0) + 1
    val index = Indexing.modelIndex(spark, windows, nRt,
      cfg.parafacMinComp, cfg.parafacMaxComp)
    val best = Indexing.bestModels(Indexing.peakCountsWithModelId(fx.counts, index), index)
    CandiaResult(fx.peaks, fx.tensors, fx.models, fx.counts, best,
      Indexing.spectrumIndex(index))
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  private def columns(df: DataFrame): Seq[(String, String)] =
    df.schema.map(f => f.name -> f.dataType.simpleString)

  private def bestKeys(df: DataFrame): Set[(String, Int, Int)] =
    df.collect().map(r => (r.getAs[String]("swath_start_key"),
      r.getAs[Int]("rt_window"), r.getAs[Int]("ncomp"))).toSet

  private def exportBytes(r: CandiaResult): (Int, Seq[Byte]) = {
    val out = Files.createTempFile("graft-select", ".mzXML")
    try {
      val n = CandiaPipeline.exportBestSpectra(spark, r, out.toString, cfg)
      (n, Files.readAllBytes(out).toSeq)
    } finally Files.delete(out)
  }

  test("select equals the relational path: best models, spectrum index, " +
    "sample modes and mzXML bytes") {
    val fx = fixture
    val ref = relational(fx)
    val got = CandiaPipeline.select(spark, fx.peaks, fx.tensors, fx.models,
      fx.counts, cfg)

    // the fixture exercises ties and zero-unimodal drops
    bestKeys(ref.bestModels) shouldBe expectedBest
    columns(got.bestModels) shouldBe columns(ref.bestModels)
    rows(got.bestModels) shouldBe rows(ref.bestModels)

    val bestGrid = ref.bestModels.select("swath_start", "rt_window", "ncomp")
    val refSpectra = ref.spectrumIndex.join(bestGrid,
      Seq("swath_start", "rt_window", "ncomp"), "left_semi")
    columns(got.spectrumIndex) shouldBe columns(ref.spectrumIndex)
    rows(got.spectrumIndex) shouldBe rows(refSpectra)
    rows(got.spectrumIndex).size shouldBe 18 // 3 + 2 + 4 + 4 + 2 + 3

    // stage 8 as the registry's q_ms_sample_modes composes it
    val keys = bestKeys(ref.bestModels)
    val refSm = Indexing.sampleModes(spark, fx.models.filter((m: ParafacModelRow) =>
      keys.contains((m.swath_key, m.rt_window, m.ncomp))))
    val refAb = Indexing.spectraWithSampleAbundance(refSm, ref.spectrumIndex)
    for (r <- Seq(got, ref)) {
      val (sm, ab) = CandiaPipeline.collectSampleModes(spark, r)
      columns(sm) shouldBe columns(refSm)
      rows(sm) shouldBe rows(refSm)
      columns(ab) shouldBe columns(refAb)
      rows(ab) shouldBe rows(refAb)
    }
    rows(refAb).size shouldBe 18 * files.size

    val (n, bytes) = exportBytes(got)
    n should be > 0
    exportBytes(ref) shouldBe ((n, bytes))
  }

  test("the pipeline tail runs a bounded number of Spark jobs") {
    val fx = fixture
    fx.peaks.count()
    // select 3, sample modes 2, export 0: 5 jobs when this test was
    // written. The same two stage-8/9 calls on a result composed
    // relationally, as the benchmark's traced pipeline composes it, ran
    // 30 with its selection.
    val (_, m) = Metrics.measure(spark) {
      val r = CandiaPipeline.select(spark, fx.peaks, fx.tensors, fx.models,
        fx.counts, cfg)
      CandiaPipeline.collectSampleModes(spark, r)._2.count()
      CandiaPipeline.exportBestSpectra(spark, r, s"$slicesDir.mzXML", cfg)
    }
    Files.deleteIfExists(Paths.get(s"$slicesDir.mzXML"))
    m.jobs should be <= 5
  }

  test("a slice store written from no rows reads back empty") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-empty-slices").toString
    try {
      val back = CandiaPipeline.checkpointSlices(spark,
        spark.emptyDataset[AdjustedPeak], dir)
      back.count() shouldBe 0L
      back.columns.toSeq shouldBe
        org.apache.spark.sql.Encoders.product[AdjustedPeak].schema.fieldNames.toSeq
    } finally FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("an empty peak table selects nothing and exports 0 scans") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-empty-run").toString
    try {
      val peaks = CandiaPipeline.checkpointSlices(spark,
        spark.emptyDataset[AdjustedPeak], s"$root/slices")
      val tensors = TensorizeOp.tensorizeResumable(spark, peaks,
        cfg.massTolPpm, s"$root/tensors")
      val models = Decomposer.runResumable(spark, tensors, cfg.parafacMinComp,
        cfg.parafacMaxComp, s"$root/models", maxIter = 10)
      val counts = Indexing.countTimeModePeaksResumable(spark, models,
        cfg.avgPeakFwhmSec, cfg.windowSizeSec, s"$root/counts")
      val r = CandiaPipeline.select(spark, peaks, tensors, models, counts, cfg)
      r.bestModels.count() shouldBe 0L
      r.spectrumIndex.count() shouldBe 0L
      val (sm, ab) = CandiaPipeline.collectSampleModes(spark, r)
      sm.count() shouldBe 0L
      ab.count() shouldBe 0L
      val out = s"$root/best.mzXML"
      CandiaPipeline.exportBestSpectra(spark, r, out, cfg) shouldBe 0
      new String(Files.readAllBytes(Paths.get(out)), "ISO-8859-1") should
        include("""<msRun scanCount="0">""")
    } finally FileUtils.deleteDirectory(new java.io.File(root))
  }
}
