package graft.ms.ops

import graft.StoreBuilds
import graft.ms.{ParafacModelRow, SliceTensor}
import graft.ms.linalg.{GaussianImpute, NNParafac}
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.col

/** Stage-5: non-negative PARAFAC over every (slice, F) pair.
  *
  * Mirrors decompose_parafac.py's main flow: trivial-tensor guard
  * (:289-295), Gaussian NaN imputation (:129-153), then the
  * multiplicative-update ALS at each rank in [fMin, fMax] with seed 123
  * (:73-79, 456). Each (slice, F) decomposition is independent; the
  * reference fanned them out as processes over GPUs via CUDA MPS
  * (decompose_workstation.sh:9-46) — here they are Spark tasks.
  *
  * Scale notes: the stage's partition count follows the unit count,
  * capped at n = min(units, 4 × defaultParallelism), and not the input's
  * partition count: [[workList]] spreads the (slice, F) units by index,
  * so a task holds at most ⌈units / n⌉ units. (Sizing by input
  * partitions × |F| packed a tensor store that reads back as one
  * partition into 5 tasks of 4 units on 4 cores: two waves, the second
  * with one busy core.) While units ≤ 4 × defaultParallelism, each task
  * holds one unit, so the scheduler balances single decompositions, not
  * slice × |F| chains. The duplicated tensor shuffle is bounded: slice
  * tensors are ≤ a few MB by construction.
  */
object Decomposer {

  def isTrivial(t: SliceTensor): Boolean =
    t.n_samples < 2 || t.n_cycles < 3 || t.n_mz < 3

  /** Impute + decompose one slice at one rank. */
  def decomposeSlice(
      t: SliceTensor,
      rank: Int,
      maxIter: Int,
      tol: Double,
      seed: Long): ParafacModelRow = {
    val x = GaussianImpute.imputeTensor(t.data, t.n_samples, t.n_cycles, t.n_mz)
    val res = NNParafac.decompose(x, t.n_samples, t.n_cycles, t.n_mz,
      rank, maxIter, tol, seed)
    def rowMajor(mi: breeze.linalg.DenseMatrix[Double]): Array[Float] = {
      val out = new Array[Float](mi.rows * mi.cols)
      var r = 0
      while (r < mi.rows) {
        var c = 0
        while (c < mi.cols) { out(r * mi.cols + c) = mi(r, c).toFloat; c += 1 }
        r += 1
      }
      out
    }
    ParafacModelRow(
      swath_key = t.swath_key,
      rt_window = t.rt_window,
      ncomp = rank,
      n_samples = t.n_samples,
      n_cycles = t.n_cycles,
      n_mz = t.n_mz,
      samples = t.samples,
      mz_indices = t.mz_indices,
      sample_mode = rowMajor(res.factors(0)),
      time_mode = rowMajor(res.factors(1)),
      mass_mode = rowMajor(res.factors(2)),
      rsq = NNParafac.rsq(res.recError),
      iterations = res.iterations)
  }

  /** The stage-5 work list: every (non-trivial slice, F) unit not yet in
    * `done` (its swath_key, rt_window, ncomp columns), spread by unit
    * index over n = min(units, 4 × defaultParallelism) partitions, so no
    * partition holds more than ⌈units / n⌉ units. Sizing n counts the
    * units, so the call itself runs a Spark job (two if the input has
    * more than one partition, for the index). */
  private[graft] def workList(
      spark: SparkSession,
      slices: Dataset[SliceTensor],
      fMin: Int,
      fMax: Int,
      done: Option[DataFrame] = None): RDD[(SliceTensor, Int)] = {
    import spark.implicits._
    val pairs = slices
      .filter((t: SliceTensor) => !isTrivial(t))
      .flatMap(t => (fMin to fMax).map(f => (t, f)))
    val todo = done.fold(pairs) { d =>
      pairs.toDF().join(d,
        col("_1.swath_key") === d("swath_key") &&
          col("_1.rt_window") === d("rt_window") &&
          col("_2") === d("ncomp"),
        "left_anti").as[(SliceTensor, Int)]
    }
    val indexed = todo.rdd.zipWithIndex().map(_.swap)
    val units = indexed.count()
    val n = math.max(1L, math.min(units, 4L * spark.sparkContext.defaultParallelism))
    indexed.partitionBy(new HashPartitioner(n.toInt)).values
  }

  def run(
      spark: SparkSession,
      slices: Dataset[SliceTensor],
      fMin: Int,
      fMax: Int,
      maxIter: Int = 5000,
      tol: Double = 1e-7,
      seed: Long = 123L): Dataset[ParafacModelRow] =
    decomposeAll(spark, workList(spark, slices, fMin, fMax), maxIter, tol, seed)

  /** Decomposes every unit of a work list in its n tasks, then hands the
    * models on in min(n, defaultParallelism) partitions: a model is a few
    * KB, and the stages that read them (the store write, peak counting,
    * the registry's cached store) pay per partition, not per model. */
  private def decomposeAll(
      spark: SparkSession,
      work: RDD[(SliceTensor, Int)],
      maxIter: Int,
      tol: Double,
      seed: Long): Dataset[ParafacModelRow] = {
    import spark.implicits._
    val out = math.min(work.getNumPartitions, spark.sparkContext.defaultParallelism)
    spark.createDataset(work
      .map { case (t, f) => decomposeSlice(t, f, maxIter, tol, seed) }
      .coalesce(out, shuffle = true))
  }

  /** [[run]] over a durable model store at `modelStorePath`
    * ([[StoreBuilds.resumable]]; the reference's `skip_completed`,
    * decompose_parafac.py:74-76): only the (slice, F) units whose
    * (swath_key, rt_window, ncomp) the store lacks are decomposed.
    * Returns the full store. */
  def runResumable(
      spark: SparkSession,
      slices: Dataset[SliceTensor],
      fMin: Int,
      fMax: Int,
      modelStorePath: String,
      maxIter: Int = 5000,
      tol: Double = 1e-7,
      seed: Long = 123L): Dataset[ParafacModelRow] = {
    import spark.implicits._
    StoreBuilds.resumable(spark, modelStorePath, Encoders.product[ParafacModelRow].schema,
      Seq("swath_key", "rt_window", "ncomp")) { done =>
      decomposeAll(spark, workList(spark, slices, fMin, fMax, done), maxIter, tol, seed)
    }.as[ParafacModelRow]
  }
}
