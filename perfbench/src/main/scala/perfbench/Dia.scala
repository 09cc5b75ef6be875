package perfbench

import java.io.File

import graft.ms.{AdjustedPeak, ParafacModelRow, SliceTensor}
import graft.ms.linalg.GaussianImpute
import graft.ms.ops.{Decomposer, Indexing, TensorizeOp, WindowOps}
import graft.pipeline.{CandiaConfig, CandiaPipeline, CandiaResult}
import graft.sources.MzMLSource
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The CANDIA pipeline workload on generated mzML.
  *
  * One unit is stages 1–8 plus the best-spectra mzXML export, with all
  * four stores (slices, tensors, models, counts) on empty directories.
  * The untraced unit calls `CandiaPipeline.run`. The traced run adds a
  * pipeline composed from the layers' public functions, each stage
  * materialised inside its span, and a resume over its complete stores. */
object Dia {

  /** Stage 5 as the paper runs it (F 10–14, tolerance 1e-7, seed 123),
    * except that no model runs past 1000 iterations: 90–100 % reach the
    * cap, so the work of a run hardly depends on the seed. */
  val Config: CandiaConfig = CandiaConfig(parafacMaxIter = 1000)

  /** A warm unit's length on a 4-core host, which sets the number of
    * warm units a run of `--seconds` times. */
  val NominalUnitS = 9.0

  final case class Stores(root: String) {
    val slices = s"$root/slices"
    val tensors = s"$root/tensors"
    val models = s"$root/models"
    val counts = s"$root/counts"
    def all: Seq[String] = Seq(slices, tensors, models, counts)
  }

  def run(spark: SparkSession, a: Main.Args, t: Tracer): Map[String, Any] = {
    val files = new File(a.inputs).listFiles().map(_.getPath)
      .filter(_.endsWith(".mzML")).sorted.toSeq
    val cfg = Config
    var rep = 0
    def next(): Stores = {
      rep += 1
      new File(s"${a.work}/rep$rep").mkdirs()
      Stores(s"${a.work}/rep$rep")
    }

    // the first pipeline in the session is reported apart (first_s)
    val firstStores = next()
    val firstS = timedPipeline(spark, files, cfg, firstStores)._1
    release(spark, firstStores)
    var last: (Stores, CandiaResult) = null
    val samples = Seq.fill(Main.warmUnits(a.seconds, NominalUnitS)) {
      if (last != null) release(spark, last._1)
      val st = next()
      val (s, r) = timedPipeline(spark, files, cfg, st)
      last = (st, r)
      s
    }
    val check = checkValues(spark, last._2)
    release(spark, last._1)

    val pipelineS = Main.median(samples)
    val nPeaks = check("n_peaks").asInstanceOf[Long]
    val nModels = check("n_models").asInstanceOf[Long]
    val base = Map[String, Any](
      "first_s" -> firstS,
      "unit_s" -> pipelineS,
      "unit_samples_s" -> samples,
      "rsq_median" -> check("rsq_median"),
      "detail" -> Map(
        "pipeline_s" -> pipelineS,
        "peaks_per_s" -> nPeaks / pipelineS,
        "models_per_s" -> nModels / pipelineS,
        "rsq_median" -> check("rsq_median"),
        "input_bytes" -> files.map(new File(_).length()).sum,
        "n_peaks" -> nPeaks,
        "n_models" -> nModels),
      "check" -> (check - "best_keys"))
    if (!t.enabled) base
    else {
      val (layers, resumeSame) = traced(spark, files, cfg, next _, t)
      base ++ Map("per_layer" -> layers,
        "check" -> (check - "best_keys" + ("resume_same_best" -> resumeSame)))
    }
  }

  private def release(spark: SparkSession, st: Stores): scala.Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    deleteRecursively(new File(st.root))
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Stages 1–8 + export, untraced: the program's own entry point. */
  def pipeline(spark: SparkSession, files: Seq[String], cfg: CandiaConfig,
      st: Stores, mzxml: String): CandiaResult = {
    val r = CandiaPipeline.run(spark, files, cfg, slicesPath = Some(st.slices),
      modelStorePath = Some(st.models), tensorStorePath = Some(st.tensors),
      countStorePath = Some(st.counts))
    CandiaPipeline.collectSampleModes(spark, r)._2.count()
    CandiaPipeline.exportBestSpectra(spark, r, mzxml, cfg)
    r
  }

  private def timedPipeline(spark: SparkSession, files: Seq[String], cfg: CandiaConfig,
      st: Stores): (Double, CandiaResult) = {
    val (r, s) = timed(pipeline(spark, files, cfg, st, s"${st.root}/best.mzXML"))
    System.err.println(f"[perfbench] pipeline ${st.root}: $s%.3f s")
    (s, r)
  }

  def bestKeys(spark: SparkSession, r: CandiaResult): Set[(String, Int, Int)] = {
    import spark.implicits._
    r.bestModels.select("swath_start_key", "rt_window", "ncomp").as[(String, Int, Int)]
      .collect().toSet
  }

  /** Values the caller checks: the best models for planted-truth scoring. */
  def checkValues(spark: SparkSession, r: CandiaResult): Map[String, Any] = {
    import spark.implicits._
    val keys = bestKeys(spark, r)
    val best = r.models
      .filter((m: ParafacModelRow) => keys.contains((m.swath_key, m.rt_window, m.ncomp)))
      .collect().sortBy(m => (m.swath_key, m.rt_window, m.ncomp))
    Map(
      "best_keys" -> keys,
      "n_peaks" -> r.peaks.count(),
      "n_models" -> r.models.count(),
      "iterations" -> r.models.select("iterations").as[Int].collect().sorted.toSeq,
      "tensor_shapes" -> r.tensors.map(x => s"${x.n_samples}x${x.n_cycles}x${x.n_mz}")
        .collect().toSeq,
      "rsq_median" -> Main.median(best.map(_.rsq).toSeq),
      "best_models" -> best.map(m => Map(
        "swath_key" -> m.swath_key,
        "rt_window" -> m.rt_window,
        "ncomp" -> m.ncomp,
        "rsq" -> m.rsq,
        "mz_indices" -> m.mz_indices,
        "mass_mode" -> m.mass_mode)).toSeq)
  }

  /** The stage-3 peak columns, as `CandiaPipeline.ingest` selects them. */
  private def peakColumns(df: DataFrame): DataFrame = df.select(
    col("file"), col("spectrum_index"), col("level"),
    col("rt").cast("float").as("rt"),
    col("mz").cast("float").as("mz"),
    col("intensity").cast("float").as("intensity"),
    col("prec_mz").cast("float").as("prec_mz"),
    col("swath_lower_adjusted").cast("float").as("swath_lower_adjusted"),
    col("swath_upper_adjusted").cast("float").as("swath_upper_adjusted"),
    col("rt_window"))

  private def materialize[T](d: Dataset[T]): Dataset[T] = { d.persist(); d.count(); d }

  /** Stages 1–8 + export composed from the layers' public functions,
    * one span per stage; mirrors `CandiaPipeline.run` with all stores. */
  def tracedPipeline(spark: SparkSession, files: Seq[String], cfg: CandiaConfig,
      st: Stores, mzxml: String, t: Tracer): CandiaResult = {
    import spark.implicits._
    val raw = t.span("sources") {
      materialize(MzMLSource.read(spark, files, minIntensity = cfg.minScanIntensity))
    }
    val peaks = t.span("windowops") {
      val df = raw.toDF()
      val tagged = peakColumns(WindowOps.assignRtWindows(
        WindowOps.applyAdjustment(df, WindowOps.adjustedWindows(df)), cfg.windowSizeSec))
      t.span("windowops.write")(WindowOps.writeSlices(WindowOps.withSwathKey(tagged), st.slices))
      t.span("windowops.read") {
        val p = peakColumns(WindowOps.readSlices(spark, st.slices)).as[AdjustedPeak]
        p.count()
        p
      }
    }
    raw.unpersist()
    val tensors = t.span("tensorize") {
      materialize(TensorizeOp.tensorizeResumable(spark, peaks, cfg.massTolPpm, st.tensors))
    }
    val models = t.span("decompose") {
      materialize(Decomposer.runResumable(spark, tensors, cfg.parafacMinComp,
        cfg.parafacMaxComp, st.models, maxIter = cfg.parafacMaxIter, tol = cfg.parafacTol,
        seed = cfg.seed))
    }
    val counts = t.span("indexing.peakcount") {
      materialize(Indexing.countTimeModePeaksResumable(spark, models,
        cfg.avgPeakFwhmSec, cfg.windowSizeSec, st.counts))
    }
    val (best, spectrumIndex) = t.span("indexing.select") {
      val windows = peaks.toDF().select(col("swath_lower_adjusted")).distinct()
      val nRt = peaks.toDF().agg(max(col("rt_window"))).head().getInt(0) + 1
      val index = Indexing.modelIndex(spark, windows, nRt, cfg.parafacMinComp, cfg.parafacMaxComp)
      val b = Indexing.bestModels(Indexing.peakCountsWithModelId(counts, index), index)
      b.persist().count()
      (b, Indexing.spectrumIndex(index))
    }
    val r = CandiaResult(peaks, tensors, models, counts, best, spectrumIndex)
    t.span("pipeline.sample_modes")(CandiaPipeline.collectSampleModes(spark, r)._2.count())
    t.span("pipeline.export")(CandiaPipeline.exportBestSpectra(spark, r, mzxml, cfg))
    r
  }

  val Stages = Seq("sources", "windowops", "tensorize", "decompose",
    "indexing.peakcount", "indexing.select", "pipeline.sample_modes", "pipeline.export")

  /** The traced run: the traced composition run untraced and then traced
    * (the difference is the tracing overhead); a resume over the traced
    * run's complete stores; the stores' sizes; and a single-threaded
    * baseline of every (slice, F) decomposition. The listener counters
    * are the traced pipeline's alone. Also returns whether the resume
    * selected the same best models. */
  def traced(spark: SparkSession, files: Seq[String], cfg: CandiaConfig, next: () => Stores,
      t: Tracer): (Map[String, Any], Boolean) = {
    import spark.implicits._
    val untracedS = {
      t.drain() // as the traced run's window does before it starts
      val plain = next()
      val s = timed(tracedPipeline(spark, files, cfg, plain,
        s"${plain.root}/best.mzXML", new Tracer(false)))._2
      release(spark, plain)
      System.err.println(f"[perfbench] untraced composition: $s%.3f s")
      s
    }
    val st = next()
    val (r, w) = t.window(t.span("pipeline") {
      tracedPipeline(spark, files, cfg, st, s"${st.root}/best.mzXML", t)
    })
    val tracedS = w.wallS
    System.err.println(f"[perfbench] traced composition: $tracedS%.3f s")
    val stageS = Stages.map(n => n -> t.seconds(n)).toMap
    val self = t.selfSeconds
    val decomposeCounters = t.counters("decompose")
    val tensorizeCounters = t.counters("tensorize")

    // statistics of the traced run's outputs, taken outside every span
    val slices = r.peaks.select("swath_lower_adjusted", "rt_window").distinct().count()
    val spectra = r.peaks.select("file", "spectrum_index").distinct().count()
    val peaksOut = r.peaks.count()
    val tensorRows = r.tensors.collect().toSeq
    val slicesErr = TensorizeOp.errors(spark, r.peaks, cfg.massTolPpm).count()
    val cells = tensorRows.map(x => x.n_samples.toLong * x.n_cycles * x.n_mz).sum
    val nan = tensorRows.map(_.data.count(_.isNaN).toLong).sum
    val modelStats = r.models.select("ncomp", "n_samples", "n_cycles", "n_mz", "iterations")
      .as[(Int, Int, Int, Int, Int)].collect().toSeq
    val bestCount = r.bestModels.count()
    val coldBest = bestKeys(spark, r)

    val storeRows = storeRowCount(spark, st)
    val storeBytes = st.all.map(p => dirBytes(new File(p))).sum
    val sliceBytes = dirBytes(new File(st.slices))
    // the write cost of the cached stage outputs, timed on its own
    val writeS = Seq[Dataset[_]](r.tensors, r.models, r.peakCounts).zipWithIndex.map {
      case (d, i) => timed(d.write.mode("overwrite").parquet(s"${st.root}/write_probe$i"))._2
    }.sum
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val (resumed, resumeS) = timed(t.span("resume") {
      tracedPipeline(spark, files, cfg, st, s"${st.root}/best_resumed.mzXML", t)
    })
    val resumeSame = bestKeys(spark, resumed) == coldBest
    val recomputed = storeRowCount(spark, st).map { case (k, n) => n - storeRows(k) }.sum
    release(spark, st)

    val serial = Serial.run(tensorRows, cfg)
    val decS = stageS("decompose")
    val gflop = modelStats.map { case (f, s, tt, m, it) => Serial.flops(s, tt, m, f) * it }.sum / 1e9
    val gb = modelStats.map { case (f, s, tt, m, it) => Serial.bytes(s, tt, m, f) * it }.sum / 1e9
    val iters = modelStats.map(_._5.toDouble)
    val cpus = spark.sparkContext.defaultParallelism
    (Layers.common(w, cpus) ++ Map(
      "trace.pipeline_s" -> tracedS,
      "trace.resume_s" -> resumeS,
      "trace.untraced_pipeline_s" -> untracedS,
      "trace.overhead_s" -> (tracedS - untracedS),
      "trace.stage_sum_s" -> Stages.map(stageS).sum,
      "sources.s" -> stageS("sources"),
      "sources.bytes_in" -> files.map(new File(_).length()).sum,
      "sources.spectra" -> spectra,
      "sources.peaks_out" -> peaksOut,
      "windowops.s" -> stageS("windowops"),
      "windowops.slices" -> slices,
      "windowops.write_s" -> self.getOrElse("windowops.write", 0.0),
      "windowops.read_s" -> self.getOrElse("windowops.read", 0.0),
      "windowops.bytes_written" -> sliceBytes,
      "tensorize.s" -> stageS("tensorize"),
      "tensorize.slices_ok" -> tensorRows.length,
      "tensorize.slices_err" -> slicesErr,
      "tensorize.cells" -> cells,
      "tensorize.nan_frac" -> (if (cells == 0) 0.0 else nan.toDouble / cells),
      "tensorize.task_p50_s" -> Main.median(tensorizeCounters.taskSeconds.toSeq),
      "tensorize.task_max_s" -> tensorizeCounters.taskSeconds.maxOption.getOrElse(0.0),
      "decompose.s" -> decS,
      "decompose.models" -> modelStats.length,
      "decompose.iters_sum" -> iters.sum.toLong,
      "decompose.iters_p50" -> Main.median(iters),
      "decompose.capped_frac" -> iters.count(_ >= cfg.parafacMaxIter).toDouble / iters.length.max(1),
      "decompose.unit_p50_s" -> Main.median(serial.unitS),
      "decompose.unit_max_s" -> serial.unitS.maxOption.getOrElse(0.0),
      "decompose.serial_s" -> serial.totalS,
      "decompose.parallel_eff" -> serial.totalS / (decS * cpus),
      "decompose.gflop" -> gflop,
      "decompose.gb_computed" -> gb,
      "decompose.gflop_per_s" -> gflop / decS,
      "decompose.executor_cpu_s" -> decomposeCounters.cpuNs / 1e9,
      "linalg.impute_s" -> serial.imputeS,
      "linalg.als_s" -> serial.alsS,
      "indexing.peakcount_s" -> stageS("indexing.peakcount"),
      "indexing.select_s" -> stageS("indexing.select"),
      "indexing.best_models" -> bestCount,
      "pipeline.sample_modes_s" -> stageS("pipeline.sample_modes"),
      "pipeline.export_s" -> stageS("pipeline.export"),
      "pipeline.store_write_s" -> (self.getOrElse("windowops.write", 0.0) + writeS),
      "pipeline.store_bytes" -> storeBytes,
      "pipeline.resume_recomputed" -> recomputed,
      "pipeline.resume_parse_s" -> (t.seconds("sources") - stageS("sources"))), resumeSame)
  }

  private def storeRowCount(spark: SparkSession, st: Stores): Map[String, Long] =
    Map("slices" -> st.slices, "tensors" -> st.tensors, "models" -> st.models,
      "counts" -> st.counts).map { case (k, p) => k -> spark.read.parquet(p).count() }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def deleteRecursively(f: File): scala.Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}

/** Single-threaded baseline of stage 5: every (slice, F) unit run with
  * `Decomposer.decomposeSlice` in one thread, imputation timed apart. */
object Serial {
  final case class Result(unitS: Seq[Double], totalS: Double, imputeS: Double, alsS: Double)

  /** Floating-point operations of one multiplicative-update iteration,
    * computed from the shape: three MTTKRPs of 2·S·T·M·F each. */
  def flops(s: Int, t: Int, m: Int, f: Int): Double = 6.0 * s * t * m * f

  /** Bytes one iteration reads, computed from the shape: each mode
    * streams the unfolded tensor and its Khatri-Rao product. */
  def bytes(s: Int, t: Int, m: Int, f: Int): Double =
    8.0 * (3.0 * s * t * m + (t.toDouble * m + s * m + s * t) * f)

  def run(tensors: Seq[SliceTensor], cfg: CandiaConfig): Result = {
    val work = tensors.filterNot(Decomposer.isTrivial)
    val nF = cfg.parafacMaxComp - cfg.parafacMinComp + 1
    var imputeS = 0.0
    val unitS = work.flatMap { x =>
      val t0 = System.nanoTime()
      GaussianImpute.imputeTensor(x.data, x.n_samples, x.n_cycles, x.n_mz)
      imputeS += (System.nanoTime() - t0) / 1e9 * nF
      (cfg.parafacMinComp to cfg.parafacMaxComp).map { f =>
        val t1 = System.nanoTime()
        Decomposer.decomposeSlice(x, f, cfg.parafacMaxIter, cfg.parafacTol, cfg.seed)
        (System.nanoTime() - t1) / 1e9
      }
    }
    Result(unitS, unitS.sum, imputeS, unitS.sum - imputeS)
  }
}
