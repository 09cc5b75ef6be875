package graft.pipeline

import graft.ms.{AdjustedPeak, ComponentPeaks, ParafacModelRow, SliceTensor}
import graft.ms.ops.{Decomposer, Indexing, TensorizeOp, Tensorizer, WindowOps}
import graft.sources.{MzMLSource, MzXMLWriter}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Pipeline configuration — the keys of the reference's experiment YAML
  * that drive stages 1–9 (test/test_experiment/config/candia.yaml:1-64). */
/** Stage-9 identification settings — the crux branch of the experiment
  * YAML (id_models_concat.py:43-49; candia.yaml `database` /
  * `decoy_database` / `decoy_prefix` / `percolator_fdr`). */
final case class IdentifyConfig(
    database: String,
    decoyDatabase: String,
    decoyPrefix: String = "reverse_",
    percolatorFdr: Double = 0.01)

final case class CandiaConfig(
    minScanIntensity: Double = 1.0, // candia.yaml: min_scan_intensity
    windowSizeSec: Double = 60.0, //   candia.yaml: window_size_sec
    massTolPpm: Double = 40.0, //      candia.yaml: mass_tol_ppm
    parafacMinComp: Int = 10, //       candia.yaml: parafac_min_comp
    parafacMaxComp: Int = 14, //       candia.yaml: parafac_max_comp
    parafacMaxIter: Int = 5000, //     candia.yaml: parafac_max_iter
    parafacTol: Double = 1e-7, //      candia.yaml: parafac_min_error_diff
    avgPeakFwhmSec: Double = 5.0, //   candia.yaml: avg_peak_fwhm_sec
    intensityCutoffBin: Int = 1, //    candia.yaml: intensity_lower_percentage_cutoff
    seed: Long = 123L)

/** Stage outputs of one end-to-end run (the in-engine replacements of
  * the reference's on-disk inter-stage artifacts). A result built by
  * [[CandiaPipeline.select]] also carries `best`, the best models as the
  * driver already holds them, so stage 8 and the export need no second
  * selection; a result composed from distributed frames leaves it empty,
  * and those two calls collect what they need from `bestModels`. */
final case class CandiaResult(
    peaks: Dataset[AdjustedPeak],
    tensors: Dataset[SliceTensor],
    models: Dataset[ParafacModelRow],
    peakCounts: Dataset[ComponentPeaks],
    bestModels: DataFrame,
    spectrumIndex: DataFrame,
    best: Option[Seq[BestModel]] = None)

/** One best model on the driver: its factors, the global scan ordinal of
  * its component 0, and its adjusted window's centre (the MS1-absent
  * pseudo-precursor, id_models_concat.py:85-89). */
final case class BestModel(
    row: ParafacModelRow,
    firstScan: Long,
    isolationCentre: Double)

/** The whole CANDIA dataflow (reference driver script `candia:1-69`,
  * SURVEY §3.1) as ONE Spark program: the reference's 9 process-per-file
  * / process-per-slice stages with filesystem hand-offs collapse into a
  * single lineage over one SparkSession — process boundaries become
  * shuffle boundaries, Snakemake scheduling becomes Spark task
  * scheduling, and every intermediate is a Dataset that can be
  * checkpointed to partitioned parquet instead of ~10⁶ tiny files.
  *
  * What reaches the driver: stages 1–5 stay distributed. Stages 6–8 are
  * bookkeeping over the model grid, and [[select]] does it on the driver
  * from three collects: one row per adjusted window (O(windows): tens
  * of windows, whatever the run length), one row per model (O(slices ×
  * F)), and the best models' factors (O(slices)), which the mzXML export
  * needs on the driver anyway. No action returns O(peaks) rows, so the
  * tail stays a few Spark jobs at any input size.
  */
object CandiaPipeline {

  /** Stages 1–3: mzML → tagged, RT-windowed peak table. */
  def ingest(
      spark: SparkSession,
      mzmlFiles: Seq[String],
      config: CandiaConfig): Dataset[AdjustedPeak] =
    WindowOps.slicePeaks(
      MzMLSource.read(spark, mzmlFiles, minIntensity = config.minScanIntensity).toDF(),
      config.windowSizeSec)

  /** Persist the sliced peak table to its partitioned layout and read it
    * back — the durable stage-3/4 boundary (the reference's slice
    * directories): downstream stages resume from disk and partition
    * pruning serves per-slice reads. */
  def checkpointSlices(
      spark: SparkSession,
      peaks: Dataset[AdjustedPeak],
      path: String): Dataset[AdjustedPeak] = {
    WindowOps.writeSlices(WindowOps.withSwathKey(peaks.toDF()), path)
    WindowOps.adjustedPeakColumns(WindowOps.readSlices(spark, path))
  }

  /** Stages 1–8: mzML files → models + best-model selection (stages
    * 6–8 through [[select]]). Passing
    * `slicesPath` routes the peak table through the partitioned on-disk
    * slice layout between stages 3 and 4; passing `tensorStorePath` /
    * `modelStorePath` / `countStorePath` makes the tensorize,
    * decomposition, and CWT peak-count stages RESUMABLE (Snakemake
    * parity with the reference's file-existence DAG, `candia:6-68` +
    * `skip_completed`): a re-run anti-joins each stage's work list
    * against its store and recomputes only what's missing — with all
    * three set, a failure anywhere in the chain restarts without
    * repeating any completed stage work. */
  def run(
      spark: SparkSession,
      mzmlFiles: Seq[String],
      config: CandiaConfig = CandiaConfig(),
      slicesPath: Option[String] = None,
      modelStorePath: Option[String] = None,
      tensorStorePath: Option[String] = None,
      countStorePath: Option[String] = None): CandiaResult = {
    val ingested = ingest(spark, mzmlFiles, config)
    val peaks = slicesPath match {
      case Some(p) => checkpointSlices(spark, ingested, p)
      case None => ingested
    }
    val tensors = (tensorStorePath match {
      case Some(p) =>
        TensorizeOp.tensorizeResumable(spark, peaks, config.massTolPpm, p)
      case None => TensorizeOp.tensorize(spark, peaks, config.massTolPpm)
    }).persist()
    val models = (modelStorePath match {
      case Some(p) => Decomposer.runResumable(spark, tensors,
        config.parafacMinComp, config.parafacMaxComp, p,
        maxIter = config.parafacMaxIter, tol = config.parafacTol,
        seed = config.seed)
      case None => Decomposer.run(spark, tensors,
        config.parafacMinComp, config.parafacMaxComp,
        maxIter = config.parafacMaxIter, tol = config.parafacTol,
        seed = config.seed)
    }).persist()
    val counts = (countStorePath match {
      case Some(p) => Indexing.countTimeModePeaksResumable(spark, models,
        config.avgPeakFwhmSec, config.windowSizeSec, p)
      case None => Indexing.countTimeModePeaks(spark, models,
        config.avgPeakFwhmSec, config.windowSizeSec)
    }).persist()

    select(spark, peaks, tensors, models, counts, config)
  }

  /** Stages 6–8 bookkeeping on the driver: the model grid, the best
    * models and their scan ordinals, from three small collects.
    *  1. Per adjusted window of `peaks`: lower and upper bound and the
    *     last RT window, O(windows) rows. The grid is the peak table's
    *     windows × 0..max(rt_window) × F, as `Indexing.modelIndex` builds
    *     it, not the tensors' keys.
    *  2. Per model of `counts`: its unimodal and total component counts,
    *     O(slices × F) rows; `Indexing.selectBest` selects from them.
    *  3. The best models' rows of `models`, factors included: O(slices)
    *     rows, which stage 8 and the export need anyway.
    * Nothing O(peaks) reaches the driver. The returned `bestModels` and
    * `spectrumIndex` are local frames with the relational path's
    * columns; `spectrumIndex` holds the best models' components only,
    * the rows stage 8 and the export join against. */
  def select(
      spark: SparkSession,
      peaks: Dataset[AdjustedPeak],
      tensors: Dataset[SliceTensor],
      models: Dataset[ParafacModelRow],
      counts: Dataset[ComponentPeaks],
      config: CandiaConfig): CandiaResult = {
    import spark.implicits._
    val windows = windowBounds(spark, peaks)
    val nRt = if (windows.isEmpty) 0 else windows.map(_._3).max + 1
    val modelCounts = reduceOnDriver(counts.rdd.map(c =>
        (c.swath_key, c.rt_window, c.ncomp) -> ((if (c.npeaks == 1) 1L else 0L), 1L))) {
        case ((u1, n1), (u2, n2)) => (u1 + u2, n1 + n2)
      }
      .map { case ((key, rt, f), (unimodal, n)) =>
        Indexing.ModelCounts(key, rt, f, unimodal, n)
      }.toSeq
    val selected = Indexing.selectBest(windows.map(_._1), nRt,
      config.parafacMinComp, config.parafacMaxComp, modelCounts)
    val firstScan = selected
      .map(b => (b.swath_start_key, b.rt_window, b.ncomp) -> b.first_scan).toMap
    val bestModels = selected.toDF().drop("first_scan")
    val spectrumIndex = selected
      .flatMap(b => (0 until b.ncomp).map(k =>
        (b.swath_start, b.rt_window, b.ncomp, b.model_id, k.toLong,
          b.first_scan + k)))
      .toDF("swath_start", "rt_window", "ncomp", "model_id", "spectrum_num",
        "scan")
    CandiaResult(peaks, tensors, models, counts, bestModels, spectrumIndex,
      Some(attach(modelsIn(models, firstScan.keySet), firstScan,
        centres(windows))))
  }

  /** (lower, upper, max rt_window) per adjusted window of the peak
    * table, O(windows) rows. */
  private def windowBounds(
      spark: SparkSession,
      peaks: Dataset[AdjustedPeak]): Seq[(Float, Float, Int)] = {
    import spark.implicits._
    reduceOnDriver(peaks
        .select("swath_lower_adjusted", "swath_upper_adjusted", "rt_window")
        .as[(Float, Float, Int)].rdd
        .map { case (lo, hi, rt) => lo -> ((hi, rt)) }) {
        case ((h1, r1), (h2, r2)) => (h1 max h2, r1 max r2)
      }
      .map { case (lo, (hi, rt)) => (lo, hi, rt) }.toSeq
  }

  /** Reduces `rows` per key in one Spark job: each task reduces its own
    * rows, and the driver folds the task results in as they arrive, so it
    * holds one entry per key. A SQL groupBy would add a shuffle, and with
    * it a second job. */
  private def reduceOnDriver[K, V](rows: RDD[(K, V)])(f: (V, V) => V): Map[K, V] = {
    def add(m: Map[K, V], kv: (K, V)): Map[K, V] =
      m.updated(kv._1, m.get(kv._1).fold(kv._2)(f(_, kv._2)))
    rows
      .mapPartitions { it =>
        val m = mutable.HashMap.empty[K, V]
        it.foreach { case (k, v) => m.update(k, m.get(k).fold(v)(f(_, v))) }
        Iterator(m.toMap)
      }
      .fold(Map.empty[K, V])((a, b) => b.foldLeft(a)(add))
  }

  /** Adjusted-window midpoints by swath key: the MS1-absent
    * pseudo-precursor sits at (lower + upper) / 2
    * (id_models_concat.py:85-89), NOT at the lower bound. */
  private def centres(windows: Seq[(Float, Float, Int)]): Map[String, Double] =
    windows.map { case (lo, hi, _) =>
      Tensorizer.swathKey(lo.toDouble) -> (lo.toDouble + hi.toDouble) / 2.0
    }.toMap

  /** The model rows whose (swath_key, rt_window, ncomp) is in `keys`. */
  private def modelsIn(
      models: Dataset[ParafacModelRow],
      keys: Set[(String, Int, Int)]): Seq[ParafacModelRow] =
    if (keys.isEmpty) Seq.empty
    else models.filter((m: ParafacModelRow) =>
      keys.contains((m.swath_key, m.rt_window, m.ncomp))).collect().toSeq

  private def attach(
      rows: Seq[ParafacModelRow],
      firstScan: Map[(String, Int, Int), Long],
      centre: Map[String, Double]): Seq[BestModel] =
    rows.map(m => BestModel(m, firstScan((m.swath_key, m.rt_window, m.ncomp)),
      centre.getOrElse(m.swath_key, m.swath_key.toDouble)))

  /** A result's best models: those [[select]] left on it, else collected
    * from its `bestModels`, `spectrumIndex`, `models` and `peaks`. */
  private def bestOf(spark: SparkSession, result: CandiaResult): Seq[BestModel] =
    result.best.getOrElse {
      import spark.implicits._
      val firstScan = result.bestModels
        .select("swath_start", "rt_window", "ncomp", "swath_start_key")
        .join(result.spectrumIndex.filter(col("spectrum_num") === 0),
          Seq("swath_start", "rt_window", "ncomp"))
        .select("swath_start_key", "rt_window", "ncomp", "scan")
        .as[(String, Int, Int, Long)].collect()
        .map { case (s, rt, f, scan) => (s, rt, f) -> scan }.toMap
      attach(modelsIn(result.models, firstScan.keySet), firstScan,
        centres(windowBounds(spark, result.peaks)))
    }

  /** Stage 8 (collect_sample_modes.py:40-76): stack the SAMPLE mode of
    * every BEST model — the reference loads only the model files listed
    * in best_models.csv — with the per-component population CV, then key
    * each component by its global spectrum-index `scan` ordinal.
    * Returns (sample_modes, spectra_with_sample_abundance): the first is
    * the feather-analog long table, the second the (scan, sample_num,
    * abundance) table that search-engine PSMs quantify against. Both are
    * `Indexing`'s frames over the best models' rows, which a result from
    * [[select]] already carries. */
  def collectSampleModes(
      spark: SparkSession,
      result: CandiaResult): (DataFrame, DataFrame) = {
    import spark.implicits._
    val rows = result.best.fold {
      val keys = result.bestModels
        .select("swath_start_key", "rt_window", "ncomp")
        .as[(String, Int, Int)].collect().toSet
      modelsIn(result.models, keys)
    }(_.map(_.row))
    // one partition: the CV window then needs no shuffle
    val sm = Indexing.sampleModes(spark, rows.toDS().coalesce(1))
    (sm, Indexing.spectraWithSampleAbundance(sm, result.spectrumIndex))
  }

  /** Stage 9 prep: export EVERY mass-mode component of each best model
    * as an mzXML scan (id_models_concat.py:58-119 iterates the full
    * mass-mode matrix — unimodality picks the best MODELS upstream, it
    * does not filter components): component spectrum = the mass-mode
    * column over the slice's m/z labels; each scan is stamped with the
    * GLOBAL spectrum-index ordinal (models.py:81-117) — the same `scan`
    * spectraWithSampleAbundance keys abundances by, so search-engine
    * PSMs (which carry mzXML scan numbers) join back to the right
    * components. Returns the number of scans written (some components
    * drop out of the export via the MS2 intensity cutoff). */
  def exportBestSpectra(
      spark: SparkSession,
      result: CandiaResult,
      path: String,
      config: CandiaConfig = CandiaConfig()): Int = {
    val comps = bestOf(spark, result)
      .flatMap { b =>
        val m = b.row
        val labels = m.mz_indices.map(Tensorizer.parseLabel)
        (0 until m.ncomp).map { k =>
          MzXMLWriter.Component(
            scanId = b.firstScan + k,
            points = labels.zipWithIndex.map { case ((lvl, mzv), i) =>
              (mzv, lvl, m.mass_mode(i * m.ncomp + k).toDouble)
            },
            isolationWindowCenter = b.isolationCentre)
        }
      }
      .sortBy(_.scanId)
    MzXMLWriter.write(path, comps, config.intensityCutoffBin)
  }

  /** Stage 9 END-TO-END (the crux branch of id_models_concat.py:37-55):
    * export the best models' component spectra to one mzXML, search it
    * with comet against the TARGET and DECOY databases, separate with
    * percolator at the configured FDR, and gather the resulting PSM
    * table back as a DataFrame. Tool execution stays behind the
    * [[graft.ext.ToolRunner]] seam — production passes
    * [[graft.ext.ProcessToolRunner]]; tests pass a mock that writes
    * golden PSM files — so the flow is testable without the binaries.
    * Directory layout mirrors the reference: `<workDir>/crux_out/
    * comet_target`, `.../comet_decoy`, percolator output in
    * `<workDir>/crux_out`. Returns (scans exported, gathered PSMs). */
  def identifyBestSpectra(
      spark: SparkSession,
      result: CandiaResult,
      workDir: String,
      id: IdentifyConfig,
      runner: graft.ext.ToolRunner,
      config: CandiaConfig = CandiaConfig()): (Int, DataFrame) = {
    import graft.ext.ToolCommands
    val mzxml = s"$workDir/best_models.mzXML"
    val cruxDir = s"$workDir/crux_out"
    val targetDir = s"$cruxDir/comet_target"
    val decoyDir = s"$cruxDir/comet_decoy"
    val nScans = exportBestSpectra(spark, result, mzxml, config)
    def runOrDie(cmd: Seq[String]): Unit = {
      val rc = runner.run(cmd)
      if (rc != 0) throw new IllegalStateException(
        s"stage 9: '${cmd.take(2).mkString(" ")}' exited with $rc")
    }
    runOrDie(ToolCommands.comet(mzxml, targetDir, id.database,
      config.massTolPpm))
    runOrDie(ToolCommands.comet(mzxml, decoyDir, id.decoyDatabase,
      config.massTolPpm))
    runOrDie(ToolCommands.percolator(
      s"$targetDir/comet.target.txt", s"$decoyDir/comet.target.txt",
      cruxDir, id.percolatorFdr, id.decoyPrefix))
    (nScans, graft.sources.PsmGather.readPsmTables(spark,
      Seq(s"$cruxDir/percolator.target.psms.txt")))
  }
}
