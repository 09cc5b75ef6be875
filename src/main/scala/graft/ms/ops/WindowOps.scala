package graft.ms.ops

import graft.ms.AdjustedPeak
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** Stages 2–3: isolation-window adjustment and slicing.
  *
  * Window adjustment (semantics of adjust_swaths.R:26-41): over the
  * distinct isolation windows sorted by lower bound,
  *   upper_adj = round-half-even(mean(next window's lower, this upper), 2)
  *               (mean of the non-null values — last row keeps its upper)
  *   lower_adj = previous row's upper_adj; first row keeps its raw lower.
  * The result is a non-overlapping cover of the SWATH range.
  *
  * Slicing (Spark-native rewrite of split_csv_maps_to_slices.py:29-101,
  * see SURVEY §3.2): rt_window = floor(rt / windowSizeSec) — no ML
  * Bucketizer, no RDD detour, no schema re-inference, no coalesce(1).
  *
  * Scale notes: the window table is O(dozens) rows — the global
  * (unpartitioned) lead/lag window runs on a single tiny partition after
  * DISTINCT, and the tagging join broadcasts it; the peak table never
  * shuffles for either step. The partitioned write hash-clusters by
  * (swath, rt_window) so downstream tensorization reads one partition
  * per slice.
  */
object WindowOps {

  /** R round(x, 2) parity, bit-exact: R's fround scales in long double
    * and nearbyints (ties-to-even), which rounds by the EXACT binary
    * value — Spark's bround instead rounds the SHORTEST DECIMAL
    * representation (bround(2.675, 2) = 2.68, but the binary value sits
    * below the tie so R gives 2.67). The two disagree exactly on the
    * "prints like a tie but isn't one" class. The window table is
    * O(dozens) rows, so the udf costs nothing. */
  private val rRound2 = udf((v: Double) =>
    if (v.isNaN || v.isInfinite) v
    else new java.math.BigDecimal(v)
      .setScale(2, java.math.RoundingMode.HALF_EVEN).doubleValue())

  /** Distinct adjusted windows from a raw peak table carrying
    * prec_isolation_window_start/_end columns. */
  def adjustedWindows(peaks: DataFrame): DataFrame = {
    val w = Window.orderBy("prec_isolation_window_start")
    peaks
      .select(col("prec_isolation_window_start"), col("prec_isolation_window_end"))
      .distinct()
      .withColumn("lead_lower", lead(col("prec_isolation_window_start"), 1).over(w))
      .withColumn("swath_upper_adjusted",
        rRound2(
          when(col("lead_lower").isNull, col("prec_isolation_window_end"))
            .otherwise((col("lead_lower") + col("prec_isolation_window_end")) / 2.0)))
      .withColumn("swath_lower_adjusted",
        coalesce(lag(col("swath_upper_adjusted"), 1).over(w),
          col("prec_isolation_window_start")))
      .drop("lead_lower")
  }

  /** Tag each peak row with its adjusted window (left join on the raw
    * window bounds, adjust_swaths.R:43) and drop the raw bounds. */
  def applyAdjustment(peaks: DataFrame, windows: DataFrame): DataFrame =
    peaks
      .join(broadcast(windows),
        Seq("prec_isolation_window_start", "prec_isolation_window_end"), "left")
      .drop("prec_isolation_window_start", "prec_isolation_window_end")

  /** Assign RT windows: ordinal = floor(rt / windowSizeSec). */
  def assignRtWindows(peaks: DataFrame, windowSizeSec: Double): DataFrame =
    peaks.withColumn("rt_window",
      floor(col("rt") / lit(windowSizeSec)).cast("int"))

  /** Stages 2–3 composed: `raw`'s isolation windows adjusted, each peak
    * tagged with its adjusted window and RT window, in the
    * [[AdjustedPeak]] columns. */
  def slicePeaks(raw: DataFrame, windowSizeSec: Double): Dataset[AdjustedPeak] =
    adjustedPeakColumns(
      assignRtWindows(applyAdjustment(raw, adjustedWindows(raw)), windowSizeSec))

  /** `peaks`' [[AdjustedPeak]] columns, cast to its types (the m/z, RT,
    * intensity and window bounds are float32, as the reference stores
    * them). */
  def adjustedPeakColumns(peaks: DataFrame): Dataset[AdjustedPeak] = {
    val enc = Encoders.product[AdjustedPeak]
    peaks.select(enc.schema.map(f => col(f.name).cast(f.dataType).as(f.name)): _*).as(enc)
  }

  /** Persist the adjusted-window table as the reference's sorted 2-column
    * CSV (save_isolation_windows_to_csv, msproc.py:568-574) — a tiny
    * driver-side artifact shared across stages. */
  def writeWindowsCsv(windows: DataFrame, path: String): Unit = {
    val rows = windows
      .select(col("swath_lower_adjusted"), col("swath_upper_adjusted"))
      .distinct().orderBy("swath_lower_adjusted")
      .collect()
      .map(r => s"${r.get(0)},${r.get(1)}")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (rows.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  /** Load a windows CSV back into (lower, upper) rows. */
  def readWindowsCsv(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read
      .schema("swath_lower_adjusted DOUBLE, swath_upper_adjusted DOUBLE")
      .csv(path)

  /** The slice partition key the reference encodes in directory names:
    * "{:.2f}" of the adjusted lower bound (split_csv_maps_to_slices
    * .py:81-84). Must be THE SAME function as the typed tensorize path's
    * key (Tensorizer.swathKey = pyFormat, exact-binary half-even) — a
    * bround-then-format column version rounds the shortest-decimal
    * representation instead and diverges on the 2.675 class, silently
    * splitting one slice into two keys between the two paths. The UDF
    * also works on streaming inputs, where a precomputed broadcast key
    * table could not be collected. */
  private val swathKeyUdf = udf((v: Double) => Tensorizer.swathKey(v))
  def withSwathKey(peaks: DataFrame): DataFrame =
    peaks.withColumn("swath_key", swathKeyUdf(col("swath_lower_adjusted")))

  /** Partitioned columnar sink for the sliced peak table (replaces the
    * reference's per-slice CSV directories; drops its coalesce(1)). */
  def writeSlices(peaks: DataFrame, path: String): Unit =
    peaks
      .repartition(col("swath_key"), col("rt_window"))
      .write
      .partitionBy("swath_key", "rt_window")
      .mode("overwrite")
      .parquet(path)

  /** The slice store's schema: the stage-3 peak columns, then the
    * partition columns swath_key (the reference's 2-dp STRING key,
    * "440.00", not 440.0 — the string form IS the identity,
    * split_csv_maps_to_slices.py:81-84) and rt_window (int). */
  private val sliceSchema = StructType(
    Encoders.product[AdjustedPeak].schema.filterNot(_.name == "rt_window") :+
      StructField("swath_key", StringType) :+
      StructField("rt_window", IntegerType))

  /** Matching source, read with the known slice schema: no job infers
    * it, partition values take its types, and a store written from no
    * rows (a directory without data files) reads back empty. Slice-key
    * filters prune partitions. */
  def readSlices(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.schema(sliceSchema).parquet(path)
}
