package graft.ms

import graft.{GraftQuery, QueryPack, Tables}
import graft.ms.ops._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The CANDIA pipeline (SURVEY.md §3) exposed through the driver's query
  * registry, stage by stage, over a deterministic synthetic peak table
  * derived from `lineitem` (the driver's testdata is the only permitted
  * input; real mzML ingestion lives in [[graft.sources]]).
  *
  * The synthesis is pure column arithmetic, so the relational stages
  * (window adjustment, slicing) carry full DuckDB oracles; the tensor
  * stages (tensorize → PARAFAC → CWT selection → reconstruction) are
  * sequential per-slice kernels with no SQL equivalent — the driver
  * records rows-only checks for them, and their numerics are covered by
  * the golden ScalaTest specs (NNParafacSpec, RickerCwtSpec,
  * TensorizerSpec).
  *
  * Derivation (all values exact in double precision):
  *   file      = "s" ++ (l_suppkey mod 3)           — 3 samples
  *   rt        = (l_orderkey mod 1000) · 0.6        — 0..599.4 s
  *   level     = 1 + (l_linenumber mod 2)           — MS1/MS2 mix
  *   mz        = 400 + (l_partkey mod 200) · 2      — 400..798
  *   intensity = l_quantity · 100
  *   window    = [400 + (l_partkey mod 10)·40, +41) — 10 overlapping
  *   prec_mz   = window start + 20
  * → 10 adjusted swaths × 10 RT windows (window size 60 s) ≈ 100 slices.
  */
object MsPipeline extends QueryPack {

  private val rtWindowSec = 60.0
  private val nRtWindows = 10 // ceil(999·0.6 / 60)
  private val mzTolPpm = 2000.0
  private val fMin = 2
  private val fMax = 3
  private val maxIter = 100

  /** The peak-synthesis projection, applicable to any lineitem-shaped
    * relation — batch or streaming. */
  private def synthPeaks(lineitem: DataFrame): DataFrame =
    lineitem.select(
      concat(lit("s"), col("l_suppkey") % 3).as("file"),
      (col("l_orderkey") % 500).cast("int").as("spectrum_index"),
      (lit(1) + col("l_linenumber") % 2).cast("int").as("level"),
      ((col("l_orderkey") % 1000) * 0.6).as("rt"),
      (lit(400.0) + (col("l_partkey") % 200) * 2.0).as("mz"),
      (col("l_quantity") * 100.0).as("intensity"),
      (lit(400.0) + (col("l_partkey") % 10) * 40.0)
        .as("prec_isolation_window_start"),
      (lit(441.0) + (col("l_partkey") % 10) * 40.0)
        .as("prec_isolation_window_end"))
      .withColumn("prec_mz", col("prec_isolation_window_start") + 20.0)

  private def rawPeaks(s: SparkSession, d: String): DataFrame =
    synthPeaks(Tables.lineitem(s, d))

  private val rawPeaksCte = """
    peaks AS (
      SELECT 's' || (l_suppkey % 3) AS file,
             CAST(l_orderkey % 500 AS INT) AS spectrum_index,
             CAST(1 + l_linenumber % 2 AS INT) AS level,
             (l_orderkey % 1000) * 0.6 AS rt,
             400.0 + (l_partkey % 200) * 2.0 AS mz,
             l_quantity * 100.0 AS intensity,
             400.0 + (l_partkey % 10) * 40.0 AS w_start,
             441.0 + (l_partkey % 10) * 40.0 AS w_end
      FROM lineitem)"""

  /** Shared oracle for the batch AND streaming slicing forms: the two
    * queries compute the same per-slice counts, so one text keeps them
    * verifying against one reference. */
  private val sliceCountsOracle = s"""
        WITH $rawPeaksCte,
        w AS (SELECT DISTINCT w_start, w_end FROM peaks),
        adj AS (
          SELECT w_start, w_end,
                 round(CASE WHEN lead(w_start,1) OVER win IS NULL THEN w_end
                       ELSE (lead(w_start,1) OVER win + w_end) / 2.0 END, 2)
                   AS upper_adj
          FROM w WINDOW win AS (ORDER BY w_start)),
        adj2 AS (
          SELECT w_start, w_end,
                 coalesce(lag(upper_adj,1) OVER (ORDER BY w_start), w_start)
                   AS lower_adj,
                 upper_adj
          FROM adj)
        SELECT format('{:.2f}', lower_adj) AS swath_key,
               CAST(floor(rt / ${rtWindowSec}) AS INT) AS rt_window,
               count(*) AS n_peaks,
               round(sum(intensity), 2) AS sum_intensity
        FROM peaks JOIN adj2 ON peaks.w_start = adj2.w_start
                            AND peaks.w_end = adj2.w_end
        GROUP BY 1, 2 ORDER BY 1, 2"""

  // Tensorization and decomposition feed four downstream queries; the
  // registry runs each query independently, so materialize these stage
  // boundaries once per (session, dir) — the in-engine analog of the
  // reference's on-disk inter-stage artifacts (slice_tensor.npy / .pt).
  //
  // private[graft]: ParafacCrossCheckSpec equates the distributed ALS
  // against an independent sequential kernel on these REAL slice
  // tensors (not synthetic toys) — the stage boundary is the natural
  // test seam, exactly as the reference's .npy artifacts were.
  private[graft] def tensors(s: SparkSession, d: String): Dataset[SliceTensor] =
    graft.StoreBuilds.persisted(s, d, "ms_slice_tensors")(
      TensorizeOp.tensorize(s, WindowOps.slicePeaks(rawPeaks(s, d), rtWindowSec), mzTolPpm))

  private def models(s: SparkSession, d: String): Dataset[ParafacModelRow] = {
    val t = tensors(s, d)
    graft.StoreBuilds.persisted(s, d, "ms_parafac_models")(
      Decomposer.run(s, t, fMin, fMax, maxIter = maxIter))
  }

  // The CWT peak-count stage feeds THREE registry queries
  // (best_models, sample_modes, spectra_abundance) plus the fixture
  // export, and each call used to recompute the wavelet transform over
  // every (model, component) time mode — a |models|·F-row stage
  // boundary exactly like tensors/models above. Session-cached and
  // ledgered (r11, the q_ms_best_models 9.4 s decomposition): the
  // steady cost of the consumers is the relational tail only.
  private def peakCounts(s: SparkSession, d: String): Dataset[ComponentPeaks] = {
    val m = models(s, d)
    graft.StoreBuilds.persisted(s, d, "ms_peak_counts")(
      Indexing.countTimeModePeaks(s, m,
        avgPeakFwhmSec = 5.0, windowSizeSec = rtWindowSec))
  }

  // ------------------------------------------------------------------
  // Relational-tail oracle fixtures. The ALS itself is sequential
  // numerics (rows-only + golden specs), but everything AFTER the
  // factor matrices — peak-count join, unimodal fraction, group-wise
  // max with ties, population CV, spectrum-index join — is pure
  // relational algebra (select_best_models.R:16-36,
  // collect_sample_modes.py:55-97). Exporting the numeric boundary
  // (per-component CWT peak counts + stacked sample-mode loadings) to
  // a fixed parquet path lets the DuckDB oracles read the SAME numeric
  // inputs back via read_parquet() and mirror stages 7–8 end-to-end,
  // converting the three tail queries from rows-only to hash-checked.
  // The fixture is tiny (|models|·F rows / |models|·S·F rows) and is
  // rewritten once per (session, dataset) by whichever tail query runs
  // first — always before the driver's oracle phase, which only starts
  // after Verify has run every query.
  private val FixtureDir = "/root/repo/target/ms_fixture"

  /** The fixture is SELF-SELECTING across scale factors: each export
    * lands in a per-size subdirectory and stamps every row with the
    * source lineitem count, and the oracle filters the glob on
    * `n_lineitem = (SELECT count(*) FROM lineitem)` — so dumps checked
    * at one sf can never silently read a fixture written at another
    * (runs at different sf write different subdirs and don't clobber
    * each other). */
  private def ensureRelationalFixture(s: SparkSession, d: String): Unit = {
    val pc = peakCounts(s, d)
    val m = models(s, d)
    // the export is a one-time session artifact exactly like a store
    // build — ledgered (r11) so the first tail query's steady number
    // stops carrying the two parquet writes
    graft.StoreBuilds.cached(s, d, "ms_fixture_export") {
      // count AND content checksum: two datasets with equal row
      // counts (a regenerated corpus, a different seed) must not
      // cross-read each other's fixture through the count filter
      // alone
      val idRow = Tables.lineitem(s, d)
        .agg(count(lit(1)),
          // coalesce: sum over an EMPTY table is null (the zero-row
          // robustness shape EmptyInputSpec drives)
          coalesce(sum(col("l_orderkey") % 1000000007L), lit(0L))).head()
      val nLine = idRow.getLong(0)
      val liSum = idRow.getLong(1)
      pc.toDF()
        .withColumn("n_lineitem", lit(nLine))
        .withColumn("li_checksum", lit(liSum)).coalesce(1)
        .write.mode("overwrite")
        .parquet(s"$FixtureDir/peak_counts/sf_${nLine}_$liSum")
      Indexing.stackedSampleModes(s, m)
        .withColumn("n_lineitem", lit(nLine))
        .withColumn("li_checksum", lit(liSum)).coalesce(1)
        .write.mode("overwrite")
        .parquet(s"$FixtureDir/sample_modes_raw/sf_${nLine}_$liSum")
    }
  }

  private val nF = fMax - fMin + 1
  private val sumF = (fMin + fMax) * nF / 2

  /** DuckDB mirror of the model grid + best-model selection, composing
    * after `peaks` (from [[rawPeaksCte]]): re-derives the adjusted swath
    * ranks from lineitem, ranks them, joins the exported peak counts,
    * and applies stage 7's unimodal-fraction argmax (ties kept, models
    * with zero unimodal components excluded). model_id is the same
    * closed-form ordinal [[Indexing.modelIndex]] computes. */
  private val modelGridCte = s"""
        w AS (SELECT DISTINCT w_start, w_end FROM peaks),
        adj AS (
          SELECT w_start, w_end,
                 round(CASE WHEN lead(w_start,1) OVER win IS NULL THEN w_end
                       ELSE (lead(w_start,1) OVER win + w_end) / 2.0 END, 2)
                   AS upper_adj
          FROM w WINDOW win AS (ORDER BY w_start)),
        adj2 AS (
          SELECT coalesce(lag(upper_adj,1) OVER (ORDER BY w_start), w_start)
                   AS lower_adj
          FROM adj),
        sw AS (SELECT CAST(round(lower_adj * 100) AS BIGINT) AS swath_start,
                      CAST(row_number() OVER (ORDER BY lower_adj) - 1
                           AS BIGINT) AS swath_rank
               FROM (SELECT DISTINCT lower_adj FROM adj2)),
        pc AS (SELECT CAST(round(CAST(swath_key AS DOUBLE) * 100) AS BIGINT)
                        AS swath_start,
                      rt_window, ncomp, comp_num, npeaks
               FROM read_parquet('$FixtureDir/peak_counts/*/*.parquet')
               WHERE n_lineitem = (SELECT count(*) FROM lineitem)
                 AND li_checksum = (SELECT sum(l_orderkey % 1000000007)
                                    FROM lineitem)),
        frac AS (SELECT (s.swath_rank * $nRtWindows + p.rt_window) * $nF
                          + (p.ncomp - $fMin) AS model_id,
                        p.swath_start, p.rt_window, p.ncomp,
                        CAST(count(*) FILTER (npeaks = 1) AS DOUBLE)
                          / count(*) AS uf,
                        count(*) FILTER (npeaks = 1) AS nu
                 FROM pc p JOIN sw s ON s.swath_start = p.swath_start
                 GROUP BY 1, 2, 3, 4),
        best AS (SELECT * FROM (
                   SELECT *, max(uf) OVER (PARTITION BY swath_start,
                                           rt_window) AS mx
                   FROM frac WHERE nu > 0)
                 WHERE uf = mx)"""

  /** Stacked sample-mode fixture + best-key restriction (stage 8's
    * "load only best models' files", collect_sample_modes.py:101-113).
    * Composes after [[modelGridCte]]. */
  private val bestSampleModesCte = s"""
        smr AS (SELECT swath_key, rt_window, ncomp, sample_num, comp_num,
                       CAST(abundance AS DOUBLE) AS abundance,
                       CAST(round(CAST(swath_key AS DOUBLE) * 100) AS BIGINT)
                         AS swath_start
                FROM read_parquet('$FixtureDir/sample_modes_raw/*/*.parquet')
                WHERE n_lineitem = (SELECT count(*) FROM lineitem)
                  AND li_checksum = (SELECT sum(l_orderkey % 1000000007)
                                     FROM lineitem)),
        bk AS (SELECT DISTINCT swath_start, rt_window, ncomp FROM best),
        smb AS (SELECT smr.* FROM smr
                JOIN bk USING (swath_start, rt_window, ncomp))"""

  val queries: Map[String, GraftQuery] = Map(

    // ---------------------------------------- stage 2: window adjustment
    // lead/lag midpoint adjustment of the distinct isolation windows
    // (adjust_swaths.R:26-41). Integer-valued bounds ⇒ midpoints land on
    // exact halves, so half-even (Spark bround) == half-away (DuckDB
    // round) and the oracle is exact.
    "q_ms_window_adjust" -> GraftQuery(
      run = (s, d) =>
        WindowOps.adjustedWindows(rawPeaks(s, d))
          .select(
            col("prec_isolation_window_start").as("w_start"),
            col("prec_isolation_window_end").as("w_end"),
            col("swath_lower_adjusted"), col("swath_upper_adjusted"))
          .orderBy("w_start"),
      oracle = Some(s"""
        WITH $rawPeaksCte,
        w AS (SELECT DISTINCT w_start, w_end FROM peaks),
        adj AS (
          SELECT w_start, w_end,
                 round(CASE WHEN lead(w_start,1) OVER win IS NULL THEN w_end
                       ELSE (lead(w_start,1) OVER win + w_end) / 2.0 END, 2)
                   AS swath_upper_adjusted
          FROM w WINDOW win AS (ORDER BY w_start))
        SELECT w_start, w_end,
               coalesce(lag(swath_upper_adjusted,1) OVER (ORDER BY w_start),
                        w_start) AS swath_lower_adjusted,
               swath_upper_adjusted
        FROM adj ORDER BY w_start""")),

    // ------------------------------------------------- stage 3: slicing
    // Tag peaks with adjusted windows, bucket RT, count per slice — the
    // Spark-native rewrite of the reference's own PySpark job
    // (split_csv_maps_to_slices.py, SURVEY §3.2).
    "q_ms_slice_counts" -> GraftQuery(
      run = (s, d) => {
        val raw = rawPeaks(s, d)
        val windows = WindowOps.adjustedWindows(raw)
        WindowOps.withSwathKey(
          WindowOps.assignRtWindows(
            WindowOps.applyAdjustment(raw, windows), rtWindowSec))
          .groupBy("swath_key", "rt_window")
          .agg(count(lit(1)).as("n_peaks"),
            round(sum(col("intensity")), 2).as("sum_intensity"))
          .orderBy("swath_key", "rt_window")
      },
      oracle = Some(sliceCountsOracle)),

    // --------------------------- stage 3, continuous: streaming slicing
    // The reference's own Spark job as a STREAMING pipeline ("process
    // scan files as they land", SURVEY §2.10's optional future): the
    // lineitem file source streams, the tiny batch-derived adjusted
    // window table joins in as a static broadcast, and the per-slice
    // aggregate maintains running counts in the state store. The schema
    // lists only the synth columns, so the scan prunes the rest. One
    // AvailableNow batch over static data equals the batch computation —
    // the oracle is q_ms_slice_counts's, verbatim.
    "q_ms_stream_slices" -> GraftQuery(
      run = (s, d) => {
        import org.apache.spark.sql.types._
        val neededCols = StructType(Seq(
          StructField("l_orderkey", LongType),
          StructField("l_partkey", LongType),
          StructField("l_suppkey", LongType),
          StructField("l_linenumber", IntegerType),
          StructField("l_quantity", DoubleType)))
        val windows = WindowOps.adjustedWindows(rawPeaks(s, d))
        val stream = synthPeaks(
          s.readStream.schema(neededCols)
            .option("pathGlobFilter", "lineitem.parquet").parquet(d))
        val sliced = WindowOps.withSwathKey(
          WindowOps.assignRtWindows(
            WindowOps.applyAdjustment(stream, windows), rtWindowSec))
          .groupBy("swath_key", "rt_window")
          .agg(count(lit(1)).as("n_peaks"),
            round(sum(col("intensity")), 2).as("sum_intensity"))
        // Complete, not Update: the memory sink APPENDS updated rows per
        // batch under Update, so a multi-batch replay (multi-file input
        // at larger SF, maxFilesPerTrigger) would retain superseded rows
        // for re-updated slice keys. Complete truncates and re-emits the
        // full (small, aggregated) slice table each batch — correct under
        // any batching. Same pattern as q_stream_session_window.
        // r11: run under the streaming pack's shared confs (8 state
        // partitions, no watermark so the no-data flag is moot) — this
        // writeStream previously ran at the session's 32 shuffle
        // partitions, 4× the state-store instances per micro-batch of
        // every other streaming query
        graft.streaming.EventStreams.withStreamConfs(s,
          needsNoDataBatch = false) {
          val q = sliced.writeStream.queryName("graft_ms_stream_slices")
            .format("memory").outputMode("complete")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        s.table("graft_ms_stream_slices").orderBy("swath_key", "rt_window")
      },
      oracle = Some(sliceCountsOracle)),

    // -------------------------------------------- stage 4: tensorization
    // Per-slice dense (sample × cycle × m/z) tensors; output = shape +
    // NaN-fill stats per slice. ORACLED: the slice dimensions are pure
    // DISTINCT-algebra over (sample, cycle, label) cells — no float sum
    // reaches the output — and on the synthetic m/z grid (spacing 2.0,
    // ppm tolerance ≤ 798·0.002 = 1.596 < 2.0) the greedy partitioner is
    // the IDENTITY map, so the one sequential step drops out of the SQL
    // mirror. Cycle binning ((# MS1 times ≤ rt) − 1 within
    // [tmin, tmax + 0.1)), the per-sample-no-MS1 / missing-level slice
    // drops, and the best-covered-sample ≥ 5-cycles partition filter are
    // all relational. The float-typed rt is mirrored by
    // CAST(CAST(rt AS REAL) AS DOUBLE).
    "q_ms_tensorize" -> GraftQuery(
      run = (s, d) => {
        import s.implicits._
        tensors(s, d)
          .map(t => (t.swath_key, t.rt_window, t.n_samples, t.n_cycles,
            t.n_mz, t.data.count(_.isNaN)))
          .toDF("swath_key", "rt_window", "n_samples", "n_cycles", "n_mz",
            "n_nan")
          .orderBy("swath_key", "rt_window")
      },
      oracle = Some(s"""
        WITH $rawPeaksCte,
        w AS (SELECT DISTINCT w_start, w_end FROM peaks),
        adj AS (
          SELECT w_start, w_end,
                 round(CASE WHEN lead(w_start,1) OVER win IS NULL THEN w_end
                       ELSE (lead(w_start,1) OVER win + w_end) / 2.0 END, 2)
                   AS upper_adj
          FROM w WINDOW win AS (ORDER BY w_start)),
        adj2 AS (
          SELECT w_start, w_end,
                 coalesce(lag(upper_adj,1) OVER (ORDER BY w_start), w_start)
                   AS lower_adj,
                 upper_adj
          FROM adj),
        sl AS (
          SELECT format('{:.2f}', lower_adj) AS sk,
                 CAST(floor(rt / ${rtWindowSec}) AS INT) AS rw,
                 file, level, mz,
                 CAST(CAST(rt AS REAL) AS DOUBLE) AS rtd
          FROM peaks JOIN adj2 ON peaks.w_start = adj2.w_start
                              AND peaks.w_end = adj2.w_end),
        samp AS (SELECT DISTINCT sk, rw, file FROM sl),
        ms1 AS (SELECT DISTINCT sk, rw, file, rtd FROM sl WHERE level = 1),
        mstat AS (SELECT sk, rw, file, min(rtd) AS tmin, max(rtd) AS tmax
                  FROM ms1 GROUP BY 1, 2, 3),
        bad AS (SELECT DISTINCT s.sk, s.rw
                FROM samp s LEFT JOIN mstat m
                  ON m.sk = s.sk AND m.rw = s.rw AND m.file = s.file
                WHERE m.file IS NULL),
        binned AS (
          SELECT s.sk, s.rw, s.file, s.level, s.mz, count(m.rtd) - 1 AS cyc
          FROM (SELECT DISTINCT sk, rw, file, level, mz, rtd FROM sl) s
          JOIN mstat st ON st.sk = s.sk AND st.rw = s.rw
                       AND st.file = s.file
          JOIN ms1 m ON m.sk = s.sk AND m.rw = s.rw AND m.file = s.file
                    AND m.rtd <= s.rtd
          WHERE s.rtd >= st.tmin AND s.rtd < st.tmax + 0.1
            AND NOT EXISTS (SELECT 1 FROM bad b
                            WHERE b.sk = s.sk AND b.rw = s.rw)
          GROUP BY 1, 2, 3, 4, 5, s.rtd),
        lvlok AS (SELECT sk, rw
                  FROM (SELECT DISTINCT sk, rw, level FROM binned)
                  GROUP BY 1, 2 HAVING count(*) = 2),
        cells AS (SELECT DISTINCT b.sk, b.rw, b.file, b.cyc, b.level, b.mz
                  FROM binned b JOIN lvlok l
                    ON l.sk = b.sk AND l.rw = b.rw),
        percov AS (SELECT sk, rw, file, level, mz,
                          count(DISTINCT cyc) AS nc
                   FROM cells GROUP BY 1, 2, 3, 4, 5),
        keptlbl AS (SELECT sk, rw, level, mz FROM percov
                    GROUP BY 1, 2, 3, 4 HAVING max(nc) >= 5),
        kept AS (SELECT c.* FROM cells c JOIN keptlbl k
                   ON k.sk = c.sk AND k.rw = c.rw AND k.level = c.level
                  AND k.mz = c.mz),
        dims AS (
          SELECT sk, rw,
                 count(DISTINCT file) AS n_samples,
                 max(nc_per_file) AS n_cycles,
                 count(DISTINCT (level, mz)) AS n_mz,
                 count(*) AS n_filled
          FROM (SELECT k.*, count(DISTINCT cyc)
                       OVER (PARTITION BY sk, rw, file) AS nc_per_file
                FROM kept k)
          GROUP BY 1, 2)
        SELECT sk AS swath_key, rw AS rt_window,
               CAST(n_samples AS INT) AS n_samples,
               CAST(n_cycles AS INT) AS n_cycles,
               CAST(n_mz AS INT) AS n_mz,
               CAST(n_samples * n_cycles * n_mz - n_filled AS INT) AS n_nan
        FROM dims ORDER BY swath_key, rt_window""")),

    // ----------------------------------------- stage 5: NN-PARAFAC (ALS)
    // One decomposition per (slice, F) pair; output = the reference's
    // decomp_measures log (ncomp, Rsq, iterations).
    "q_ms_decompose" -> GraftQuery(
      run = (s, d) => {
        import s.implicits._
        models(s, d)
          .map(m => (m.swath_key, m.rt_window, m.ncomp,
            math.rint(m.rsq * 1e4) / 1e4, m.iterations))
          .toDF("swath_key", "rt_window", "ncomp", "rsq", "iterations")
          .orderBy("swath_key", "rt_window", "ncomp")
      },
      oracle = None),

    // ------------------------- stages 6–7: peak counting + model selection
    // CWT time-mode peak counts → unimodal fraction → group-wise max
    // (ties kept) per (swath, rt_window). ORACLED via the fixture
    // boundary: the CWT counts export to parquet and the oracle replays
    // the whole relational tail (grid ordinal, fraction, argmax) in
    // DuckDB. The fraction is a ratio of small counts — bit-identical
    // double division on both engines.
    "q_ms_best_models" -> GraftQuery(
      run = (s, d) => {
        ensureRelationalFixture(s, d)
        val raw = rawPeaks(s, d)
        val windows = WindowOps.adjustedWindows(raw)
          .select(col("swath_lower_adjusted"))
        val index = Indexing.modelIndex(s, windows, nRtWindows, fMin, fMax)
        val counts = Indexing.peakCountsWithModelId(peakCounts(s, d), index)
        Indexing.bestModels(counts, index)
          .select(col("model_id"), col("swath_start"), col("rt_window"),
            col("ncomp"), round(col("unimodal_fraction"), 4)
              .as("unimodal_fraction"))
          .orderBy("model_id")
      },
      oracle = Some(s"""
        WITH $rawPeaksCte,
        $modelGridCte
        SELECT CAST(model_id AS BIGINT) AS model_id, swath_start,
               CAST(rt_window AS INT) AS rt_window,
               CAST(ncomp AS INT) AS ncomp,
               round(uf, 4) AS unimodal_fraction
        FROM best ORDER BY model_id""")),

    // ------------------------------------- stage 8: sample-mode abundances
    // Stacked (sample, component) abundances with population CV —
    // restricted to the BEST models, as the reference's stage 8 is
    // (collect_sample_modes.py:101-113 reads best_models.csv and loads
    // only those model files; non-best models never contribute
    // abundances). The best-key set is |slices|-sized, collected once
    // and closed over by the dataset filter.
    "q_ms_sample_modes" -> GraftQuery(
      run = (s, d) => {
        ensureRelationalFixture(s, d)
        val raw = rawPeaks(s, d)
        val windows = WindowOps.adjustedWindows(raw)
          .select(col("swath_lower_adjusted"))
        val index = Indexing.modelIndex(s, windows, nRtWindows, fMin, fMax)
        val counts = Indexing.peakCountsWithModelId(peakCounts(s, d), index)
        val bestKeys = Indexing.bestModels(counts, index)
          .select(col("swath_start_key"), col("rt_window"), col("ncomp"))
          .collect()
          .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
        Indexing.sampleModes(s, models(s, d).filter((m: ParafacModelRow) =>
            bestKeys.contains((m.swath_key, m.rt_window, m.ncomp))))
          .select(col("swath_key"), col("rt_window"), col("ncomp"),
            col("sample_num"), col("comp_num"),
            // double BEFORE rounding on both engines: a float32-rounded
            // abundance and a float64-rounded one can be different
            // nearest-representable values under the hash gate
            round(col("abundance").cast("double"), 4).as("abundance"),
            round(col("cv_sample_mode"), 4).as("cv_sample_mode"))
          .orderBy("swath_key", "rt_window", "ncomp", "sample_num", "comp_num")
      },
      oracle = Some(s"""
        WITH $rawPeaksCte,
        $modelGridCte,
        $bestSampleModesCte,
        cv AS (SELECT swath_key, rt_window, ncomp, sample_num, comp_num,
                      abundance,
                      stddev_pop(abundance) OVER wc / avg(abundance) OVER wc
                        AS cv_sample_mode
               FROM smb
               WINDOW wc AS (PARTITION BY swath_key, rt_window, ncomp,
                             comp_num))
        SELECT swath_key, CAST(rt_window AS INT) AS rt_window,
               CAST(ncomp AS INT) AS ncomp,
               CAST(sample_num AS INT) AS sample_num,
               CAST(comp_num AS INT) AS comp_num,
               round(abundance, 4) AS abundance,
               round(cv_sample_mode, 4) AS cv_sample_mode
        FROM cv
        ORDER BY swath_key, rt_window, ncomp, sample_num, comp_num""")),

    // -------------------------- stage 8 output: spectrum ⋈ abundance table
    // The (scan, sample_num, abundance) table search-engine PSMs
    // quantify against (collect_sample_modes.py:55-76): best models'
    // stacked sample modes keyed by the GLOBAL spectrum-index scan
    // ordinal. ORACLED: scan is a closed form of the grid coordinates
    // (Indexing.spectrumIndex), so the oracle re-derives it from the
    // swath ranks and joins the exported sample-mode fixture.
    "q_ms_spectra_abundance" -> GraftQuery(
      run = (s, d) => {
        ensureRelationalFixture(s, d)
        val raw = rawPeaks(s, d)
        val windows = WindowOps.adjustedWindows(raw)
          .select(col("swath_lower_adjusted"))
        val index = Indexing.modelIndex(s, windows, nRtWindows, fMin, fMax)
        val counts = Indexing.peakCountsWithModelId(peakCounts(s, d), index)
        val bestKeys = Indexing.bestModels(counts, index)
          .select(col("swath_start_key"), col("rt_window"), col("ncomp"))
          .collect()
          .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
        val sm = Indexing.sampleModes(s,
          models(s, d).filter((m: ParafacModelRow) =>
            bestKeys.contains((m.swath_key, m.rt_window, m.ncomp))))
        Indexing.spectraWithSampleAbundance(sm, Indexing.spectrumIndex(index))
          .select(col("scan"), col("sample_num"),
            round(col("abundance").cast("double"), 4).as("abundance"))
          .orderBy("scan", "sample_num")
      },
      oracle = Some(s"""
        WITH $rawPeaksCte,
        $modelGridCte,
        $bestSampleModesCte,
        sc AS (SELECT ((s.swath_rank * $nRtWindows + m.rt_window) * $nF
                         + (m.ncomp - $fMin)) // $nF * $sumF
                       + (m.ncomp - $fMin) * $fMin
                       + ((m.ncomp - $fMin) * (m.ncomp - $fMin - 1)) // 2
                       + m.comp_num AS scan,
                      m.sample_num, m.abundance
               FROM smb m JOIN sw s ON s.swath_start = m.swath_start)
        SELECT CAST(scan AS BIGINT) AS scan,
               CAST(sample_num AS INT) AS sample_num,
               round(abundance, 4) AS abundance
        FROM sc ORDER BY scan, sample_num""")),

    // ------------------------------------- stage 9 prep: scan reconstruction
    // Kruskal reconstruction of scan 0 from unimodal components; output
    // aggregated per model (count + order-independent max).
    "q_ms_reconstruct" -> GraftQuery(
      run = (s, d) => {
        val ms = models(s, d)
        val ts = tensors(s, d)
        val pc = peakCounts(s, d).toDF()
        Reconstructor.run(s, ms, ts, pc, scanNum = 0)
          .toDF()
          .groupBy("swath_key", "rt_window", "ncomp")
          .agg(count(lit(1)).as("n_points"),
            // NaN scale is faithful to the reference (it reads the raw
            // NaN-padded tensor at argmax, reconstruct_scan.py:98-114);
            // report the finite max separately (order-independent).
            count(when(isnan(col("intensity")), 1)).as("n_nan"),
            round(max(when(!isnan(col("intensity")), col("intensity"))), 3)
              .as("max_finite_intensity"))
          .orderBy("swath_key", "rt_window", "ncomp")
      },
      oracle = None)
  )
}
