package graft.ms.ops

import graft.StoreBuilds
import graft.ms.{AdjustedPeak, SliceTensor}
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}

/** Spark wrapper for stage-4 tensorization: group the sliced peak table
  * by (swath_key, rt_window) and build one dense tensor per group.
  *
  * Scale notes: this is the natural `groupByKey.mapGroups` shape — one
  * shuffle clustered on the slice key, then an independent sequential
  * kernel per slice (the greedy partitioner is order-dependent, so
  * intra-slice parallelism is impossible by construction; the reference
  * ran one OS process per slice instead, generate_slice_tensors
  * .Snakefile:35-43). Slices are bounded (≤ a few MB) regardless of total
  * data volume, so at 100 TB this becomes O(10⁶) uniform tasks with no
  * driver involvement. Failed slices (the reference's "Could not
  * tensorize" sentinel JSON) are dropped here and can be collected via
  * [[errors]].
  */
object TensorizeOp {

  /** peaks must carry: file, spectrum_index, level, rt, mz, intensity,
    * prec_mz, swath_lower_adjusted, swath_upper_adjusted, rt_window. */
  def tensorize(
      spark: SparkSession,
      peaks: Dataset[AdjustedPeak],
      mzTolPpm: Double): Dataset[SliceTensor] = {
    import spark.implicits._
    peaks
      .groupByKey(p =>
        (Tensorizer.swathKey(p.swath_lower_adjusted.toDouble), p.rt_window))
      .mapGroups((key: (String, Int), rows: Iterator[AdjustedPeak]) =>
        Tensorizer.tensorize(key._1, key._2, rows, mzTolPpm))
      .flatMap(_.toOption)
  }

  /** The tensorize stage over a durable tensor store at
    * `tensorStorePath` ([[StoreBuilds.resumable]]; the reference skips
    * every slice whose tensor file exists, `candia:29-44`): only the
    * slices whose (swath_key, rt_window) the store lacks re-read their
    * peaks and are tensorized. Returns the full store. */
  def tensorizeResumable(
      spark: SparkSession,
      peaks: Dataset[AdjustedPeak],
      mzTolPpm: Double,
      tensorStorePath: String): Dataset[SliceTensor] = {
    import spark.implicits._
    StoreBuilds.resumable(spark, tensorStorePath, Encoders.product[SliceTensor].schema,
      Seq("swath_key", "rt_window")) { done =>
      val todo = done.fold(peaks) { d =>
        WindowOps.withSwathKey(peaks.toDF())
          .join(d, Seq("swath_key", "rt_window"), "left_anti")
          .drop("swath_key")
          .as[AdjustedPeak]
      }
      tensorize(spark, todo, mzTolPpm)
    }.as[SliceTensor]
  }

  /** Per-slice tensorization failures (slice key → reason). */
  def errors(
      spark: SparkSession,
      peaks: Dataset[AdjustedPeak],
      mzTolPpm: Double): Dataset[(String, Int, String)] = {
    import spark.implicits._
    peaks
      .groupByKey(p =>
        (Tensorizer.swathKey(p.swath_lower_adjusted.toDouble), p.rt_window))
      .mapGroups((key: (String, Int), rows: Iterator[AdjustedPeak]) =>
        Tensorizer.tensorize(key._1, key._2, rows, mzTolPpm) match {
          case Left(err) => Some((key._1, key._2, err.message))
          case Right(_)  => None
        })
      .flatMap(identity)
  }
}
