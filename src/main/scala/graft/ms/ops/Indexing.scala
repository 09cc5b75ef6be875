package graft.ms.ops

import graft.StoreBuilds
import graft.ms.{ComponentPeaks, ParafacModelRow}
import graft.ms.linalg.RickerCwt
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Stages 6–8: model/spectrum indexing, time-mode peak counting,
  * best-model selection, and sample-mode (abundance) collection.
  *
  * Index semantics are the reference's exact ordinal contract
  * (models.py:61-117, golden test models.py:206-225): the model grid is
  * the cross product swath-major → rt_window → ncomp with model_id = row
  * ordinal; the spectrum index explodes 0..ncomp-1 per model with a
  * global ordered `scan` ordinal. Because the grid is a complete cross
  * product, both ordinals are pure functions of the grid coordinates —
  * computed arithmetically, with no global window (no single-partition
  * exchange at any grid size).
  *
  * Scale notes: index tables are tiny (|swaths|·|windows|·|F|) and always
  * broadcast-joined against model/result data; peak counting is a
  * flatMap over models (no shuffle); selection is one window aggregate
  * partitioned by (swath_start, rt_window).
  *
  * Two paths compute stages 6–7. The registry's queries compose the
  * relational one: `modelIndex` → `peakCountsWithModelId` →
  * `bestModels` → `spectrumIndex`, all DataFrames. The pipeline
  * (`CandiaPipeline.select`) takes the driver path, [[selectBest]]: the
  * same grid, ordinals and selection over collected per-window and
  * per-model rows, O(windows) + O(slices × F), so the pipeline's tail
  * runs a handful of Spark jobs instead of dozens. `CandiaSelectSpec`
  * pins the two paths equal, row for row.
  */
object Indexing {

  /** Cents-integer swath key (models.py:69-70): uint32(round(lower·100)).
    * np.round is HALF_EVEN, so bround — which also keeps this key in
    * agreement with the half-even string keys (Tensorizer.pyFormat /
    * WindowOps.withSwathKey) at exact dyadic ties like 440.125. */
  def centsKey(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    bround(c * 100.0, 0).cast("long")

  /** Model index over adjusted windows × RT windows × F range.
    * `windows` must carry swath_lower_adjusted (one row per adjusted
    * window, ascending order expected as in the reference CSV). */
  def modelIndex(
      spark: SparkSession,
      windows: DataFrame,
      nRtWindows: Int,
      fMin: Int,
      fMax: Int): DataFrame = {
    import spark.implicits._
    // The swath dimension is instrument configuration (tens of windows,
    // never data-scale): rank it on the driver, then model_id is pure
    // arithmetic over (swath_rank, rt_window, ncomp) — no row_number,
    // no single-partition exchange at any grid size.
    val swathKeys = windows
      .select(centsKey(col("swath_lower_adjusted")).as("swath_start"))
      .distinct().as[Long].collect().sorted
    val nF = fMax - fMin + 1
    val swaths = swathKeys.zipWithIndex.toSeq.toDF("swath_start", "swath_rank")
    val rts = (0 until nRtWindows).toDF("rt_window")
    val fs = (fMin to fMax).toDF("ncomp")
    swaths.crossJoin(rts).crossJoin(fs)
      .withColumn("model_id", expr(
        s"CAST((swath_rank * $nRtWindows + rt_window) * $nF + (ncomp - $fMin) AS BIGINT)"))
      .select("swath_start", "rt_window", "ncomp", "model_id")
  }

  /** Spectrum index: one row per (model, component), with a global
    * ordered `scan` ordinal (models.py:81-117). Since model_id
    * enumerates ncomp fastest over a complete F range, scan is pure
    * arithmetic: preceding full F-blocks contribute sum(fMin..fMax)
    * each, preceding components within the block fIdx·fMin +
    * fIdx(fIdx−1)/2. */
  def spectrumIndex(modelIndex: DataFrame): DataFrame = {
    val stats = modelIndex.agg(min("ncomp"), max("ncomp")).head()
    // empty grid: bounds are unused (explode of nothing stays empty)
    val fMin = if (stats.isNullAt(0)) 1 else stats.getInt(0)
    val fMax = if (stats.isNullAt(1)) 1 else stats.getInt(1)
    val nF = fMax - fMin + 1
    val sumF = (fMin + fMax) * nF / 2
    modelIndex
      .withColumn("spectrum_num",
        explode(sequence(lit(0L), col("ncomp").cast("long") - 1)))
      .withColumn("fidx", col("ncomp") - fMin)
      .withColumn("scan", expr(
        s"CAST((model_id div $nF) * $sumF + fidx * $fMin + (fidx * (fidx - 1)) div 2 + spectrum_num AS BIGINT)"))
      .select("swath_start", "rt_window", "ncomp", "model_id",
        "spectrum_num", "scan")
  }

  /** Stage-7a: CWT peak count per (model, component) time-mode profile
    * (collect_time_mode_values.py:54-87). */
  def countTimeModePeaks(
      spark: SparkSession,
      models: Dataset[ParafacModelRow],
      avgPeakFwhmSec: Double,
      windowSizeSec: Double): Dataset[ComponentPeaks] = {
    import spark.implicits._
    val frac = avgPeakFwhmSec / windowSizeSec
    models.flatMap { mrow =>
      val t = mrow.n_cycles
      val expectedWidth = t * frac
      (0 until mrow.ncomp).map { k =>
        val profile = Array.tabulate(t)(i => mrow.time_mode(i * mrow.ncomp + k).toDouble)
        ComponentPeaks(mrow.swath_key, mrow.rt_window, mrow.ncomp, k,
          RickerCwt.countPeaks(profile, expectedWidth))
      }
    }
  }

  /** [[countTimeModePeaks]] over a durable count store at
    * `countStorePath` ([[StoreBuilds.resumable]]): only the models whose
    * (swath_key, rt_window, ncomp) the store lacks are counted. Returns
    * the full store. */
  def countTimeModePeaksResumable(
      spark: SparkSession,
      models: Dataset[ParafacModelRow],
      avgPeakFwhmSec: Double,
      windowSizeSec: Double,
      countStorePath: String): Dataset[ComponentPeaks] = {
    import spark.implicits._
    StoreBuilds.resumable(spark, countStorePath, Encoders.product[ComponentPeaks].schema,
      Seq("swath_key", "rt_window", "ncomp")) { done =>
      val todo = done.fold(models)(d =>
        models.join(d, Seq("swath_key", "rt_window", "ncomp"), "left_anti")
          .as[ParafacModelRow])
      countTimeModePeaks(spark, todo, avgPeakFwhmSec, windowSizeSec)
    }.as[ComponentPeaks]
  }

  /** Attach model_id to per-component peak counts via the model index. */
  def peakCountsWithModelId(peaks: Dataset[ComponentPeaks], index: DataFrame): DataFrame = {
    val p = peaks.toDF()
      .withColumn("swath_start", centsKey(col("swath_key")))
      .drop("swath_key")
    p.join(broadcast(index), Seq("swath_start", "rt_window", "ncomp"))
      .select("model_id", "comp_num", "npeaks")
  }

  /** Stage-7b: best models by unimodality (select_best_models.R:14-41).
    * Models with zero unimodal components are excluded entirely (the
    * reference's data.table join has inner semantics); within each
    * (swath_start, rt_window) all models tying at the max unimodal
    * fraction are kept. */
  def bestModels(peakCounts: DataFrame, modelIndex: DataFrame): DataFrame = {
    val frac = peakCounts
      .groupBy("model_id")
      .agg(
        (count(when(col("npeaks") === 1, 1)).cast("double") / count(lit(1)))
          .as("unimodal_fraction"),
        count(when(col("npeaks") === 1, 1)).as("n_unimodal"))
      .filter(col("n_unimodal") > 0)
      .drop("n_unimodal")
    val joined = frac.join(broadcast(modelIndex), "model_id")
    val w = Window.partitionBy("swath_start", "rt_window")
    joined
      .withColumn("mx", max(col("unimodal_fraction")).over(w))
      .filter(col("unimodal_fraction") === col("mx"))
      .drop("mx")
      .withColumn("swath_start_key",
        format_string("%.2f", col("swath_start") / lit(100.0)))
  }

  /** [[centsKey]] of one value, as Spark evaluates it: bround of a
    * double rounds the value's shortest decimal form, half-even. */
  def cents(v: Double): Long =
    java.math.BigDecimal.valueOf(v * 100.0)
      .setScale(0, java.math.RoundingMode.HALF_EVEN).longValue

  /** One model's component counts from the count store:
    * `count(npeaks == 1)` and `count(*)`. */
  final case class ModelCounts(
      swath_key: String,
      rt_window: Int,
      ncomp: Int,
      n_unimodal: Long,
      n: Long)

  /** One row of [[bestModels]], plus the [[spectrumIndex]] scan of the
    * model's component 0 (component k has scan `first_scan + k`). */
  final case class Selected(
      model_id: Long,
      unimodal_fraction: Double,
      swath_start: Long,
      rt_window: Int,
      ncomp: Int,
      swath_start_key: String,
      first_scan: Long)

  /** The driver path of `modelIndex` → `peakCountsWithModelId` →
    * `bestModels` → `spectrumIndex`, over the adjusted windows' lower
    * bounds and per-model counts: the same grid (swath rank by [[cents]],
    * then RT window, then F), the same counts join (counts outside the
    * grid drop out), the same unimodal fraction, every model tying at
    * the maximum kept, models without a unimodal component dropped.
    * Ordered by model_id. */
  def selectBest(
      windowLowers: Seq[Float],
      nRtWindows: Int,
      fMin: Int,
      fMax: Int,
      counts: Seq[ModelCounts]): Seq[Selected] = {
    val rank = windowLowers.map(l => cents(l.toDouble)).distinct.sorted
      .zipWithIndex.toMap
    val nF = fMax - fMin + 1
    val sumF = (fMin + fMax) * nF / 2
    val perModel = counts
      .flatMap { c =>
        val start = cents(c.swath_key.toDouble)
        rank.get(start)
          .filter(_ => c.rt_window >= 0 && c.rt_window < nRtWindows &&
            c.ncomp >= fMin && c.ncomp <= fMax)
          .map { r =>
            val id = (r.toLong * nRtWindows + c.rt_window) * nF + (c.ncomp - fMin)
            ((id, start, c.rt_window, c.ncomp), (c.n_unimodal, c.n))
          }
      }
      .groupMapReduce(_._1)(_._2) { case ((u1, n1), (u2, n2)) => (u1 + u2, n1 + n2) }
    val fractions = perModel.toSeq.collect {
      case (model, (unimodal, n)) if unimodal > 0 => (model, unimodal.toDouble / n)
    }
    fractions
      .groupBy { case ((_, start, rt, _), _) => (start, rt) }
      .values
      .flatMap { slice =>
        val mx = slice.map(_._2).max
        slice.filter(_._2 == mx)
      }
      .map { case ((id, start, rt, ncomp), frac) =>
        val fIdx = ncomp - fMin
        Selected(id, frac, start, rt, ncomp,
          "%.2f".formatLocal(java.util.Locale.US, start / 100.0),
          (id / nF) * sumF + fIdx * fMin + fIdx * (fIdx - 1) / 2)
      }
      .toSeq
      .sortBy(_.model_id)
  }

  /** Stage-8a: the pure stacking step — one long row per (model, sample,
    * component) carrying the sample-mode loading. This is the numeric
    * boundary of the pipeline: everything downstream of these rows
    * (best-model filter, CV, spectrum join) is relational algebra, which
    * is exactly what the parquet fixture export + DuckDB oracle mirror
    * (see MsPipeline.ensureRelationalFixture). */
  def stackedSampleModes(
      spark: SparkSession, models: Dataset[ParafacModelRow]): DataFrame = {
    import spark.implicits._
    models.flatMap { mrow =>
      for {
        s <- 0 until mrow.n_samples
        k <- 0 until mrow.ncomp
      } yield (mrow.swath_key, mrow.rt_window, mrow.ncomp, s, k,
        mrow.sample_mode(s * mrow.ncomp + k))
    }.toDF("swath_key", "rt_window", "ncomp", "sample_num", "comp_num",
      "abundance")
  }

  /** Stage-8: stack sample modes to long format with the per-component
    * population CV (collect_sample_modes.py:79-97). */
  def sampleModes(spark: SparkSession, models: Dataset[ParafacModelRow]): DataFrame = {
    val stacked = stackedSampleModes(spark, models)
    val w = Window.partitionBy("swath_key", "rt_window", "ncomp", "comp_num")
    stacked.withColumn("cv_sample_mode",
      stddev_pop(col("abundance")).over(w) / avg(col("abundance")).over(w))
  }

  /** Join stacked sample modes of best models against the spectrum index:
    * (scan, sample_num, abundance) (collect_sample_modes.py:55-76). */
  def spectraWithSampleAbundance(
      sampleModes: DataFrame,
      spectrumIndex: DataFrame): DataFrame = {
    val sm = sampleModes
      .withColumn("swath_start", centsKey(col("swath_key")))
    sm.join(broadcast(spectrumIndex),
        sm("swath_start") === spectrumIndex("swath_start") &&
          sm("rt_window") === spectrumIndex("rt_window") &&
          sm("ncomp") === spectrumIndex("ncomp") &&
          sm("comp_num") === spectrumIndex("spectrum_num"))
      .select(spectrumIndex("scan"), sm("sample_num"), sm("abundance"))
  }
}
