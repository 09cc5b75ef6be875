package graft.sparkutil

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact global ranks (and ntile buckets) WITHOUT a single-partition
  * window — the scale-safe replacement for `Window.orderBy(...)` with no
  * partition spec, whose physical plan is `Exchange SinglePartition` +
  * one sort task over the whole frame (the last unpartitioned-at-scale
  * shape the r11 global-window audit flagged).
  *
  * Shape (guide §2.4): range-partition by the sort key (the same
  * exchange a global orderBy would plan, WITHOUT the single-partition
  * collapse), stamp the partition id, aggregate rows per (group, pid) —
  * a partition-count-sized frame — turn that into cumulative offsets
  * with a window over ≤ P rows per group, broadcast it back, and stamp
  * each row's global rank as offset + row_number within its pid. Every
  * stage is partition-parallel and the whole plan is LAZY (no persist,
  * no driver collect): the only non-data-parallel piece is the offsets
  * window, bounded by the shuffle-partition count, not the data.
  *
  * Rank equivalence: the range exchange guarantees every row in pid i
  * sorts before every row in pid j for i < j (same composite sort key
  * as the in-pid row_number), hence offset + local row_number is
  * exactly the global row_number.
  *
  * pid stability across the two consumer legs (counts and ranks) of
  * the staged frame: the fork point is PERSISTED, because each leg
  * would otherwise plan its own physical range exchange whose boundary
  * sampling is seeded by RDD id — two instances can draw DIFFERENT
  * boundaries and the offsets then disagree with the ranks (measured:
  * block-wise rank displacement on the rfm frame at sf0.01, where the
  * 4500-row input exceeds the 100-rows/partition sample and boundary
  * choice becomes seed-dependent; exchange reuse is an optimization,
  * not a guarantee). With the persist, one terminal action still
  * drives everything in a single execution — the broadcast (offsets)
  * leg materializes the cache, the probe leg reads it — and an evicted
  * cache block recomputes from the exchange's shuffle FILES (partition
  * index fixed), not from a re-sampled exchange, so `__pid` stays a
  * pure function of the data. AQE may coalesce the range exchange (no
  * partition count is passed), but coalescing merges only CONTIGUOUS
  * range partitions, so pid order still follows sort order, and it
  * happens before the persist stamps the ids. Callers must release the
  * returned cache after their terminal action ([[materializeAndRelease]]).
  *
  * Ceiling: `monotonically_increasing_id` keeps the in-partition row
  * index in its low 33 bits, so every cached range partition must hold
  * fewer than 2^33 rows; past that, `__mid >> 33` misreads the pid and
  * the rank arithmetic is wrong. AQE's advisory partition sizing keeps
  * partitions orders of magnitude below it.
  */
object ScalableRank {

  /** Materialize a small (aggregate-sized) result, release the plan's
    * caches, and return the rows as a local frame — returning the lazy
    * plan would pin the caches in executor storage for the session.
    * Release is in `finally`: the bench harness swallows query failures
    * and keeps running, so a collect that throws must not leak blocks
    * into every subsequent query. (Lifted from GraphOps in r12 so the
    * Scale/Window materializing queries share one audited copy.) */
  def materializeAndRelease(
      s: SparkSession, out: DataFrame,
      caches: Seq[DataFrame]): DataFrame = {
    val rows =
      try out.collect()
      finally caches.foreach(_.unpersist())
    s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
  }

  /** Add an exact global `row_number` (1-based, column `rankName`,
    * LongType) and the group's row count (column `totalName`, LongType)
    * within each value of `groupCol` (an Int column with FEW distinct
    * values — a metric id, a language) under the total order `order`.
    * Callers must pass a TOTAL order (tie-broken by a unique key) so
    * the rank is engine-independent. The plan stays lazy — nothing
    * runs until the caller's terminal action — but the returned cache
    * handle must be released afterwards. */
  def withGlobalRank(
      df: DataFrame, groupCol: Column, order: Seq[Column],
      rankName: String, totalName: String): (DataFrame, DataFrame) = {
    // no explicit partition count: AQE sizes the range exchange to the
    // data (guide §2 scale-adaptive partitioning) — locally a few-MB
    // frame coalesces to one or two partitions instead of paying 32
    // near-empty sort tasks; at scale it targets the advisory partition
    // size. Coalescing merges CONTIGUOUS range partitions, so pid order
    // still follows sort order, and the persist stamps ids exactly
    // once for both consumer legs.
    //
    // The cache is sorted within partitions, so
    // monotonically_increasing_id (= pid << 33 | row index, stamped at
    // materialization) encodes BOTH the partition and the in-partition
    // ordinal — the rank is then offset arithmetic on the broadcast
    // counts frame, with no window over the data at all (the only
    // Window runs over the partition-count-sized counts frame).
    val sortKey = col("__g") +: order
    val staged = df.withColumn("__g", groupCol.cast("int"))
      .repartitionByRange(sortKey: _*)
      .sortWithinPartitions(sortKey: _*)
      .withColumn("__mid", monotonically_increasing_id())
      .persist()
    val cnt = staged
      .groupBy(col("__g"), shiftright(col("__mid"), 33).as("__pid"))
      .agg(count(lit(1)).as("__cnt"), min(col("__mid")).as("__first"))
    val wg = Window.partitionBy(col("__g")).orderBy(col("__pid"))
    val offs = cnt.select(col("__g"), col("__pid"), col("__first"),
      coalesce(sum(col("__cnt")).over(
        wg.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
        .as("__off"),
      sum(col("__cnt")).over(
        wg.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .as(totalName))
    val ranked = staged
      .withColumn("__pid", shiftright(col("__mid"), 33))
      .join(broadcast(offs), Seq("__g", "__pid"))
      .withColumn(rankName,
        col("__off") + (col("__mid") - col("__first")) + lit(1L))
      .drop("__g", "__pid", "__off", "__first", "__mid")
    (ranked, staged)
  }

  /** `ntile(buckets)` computed from a global rank and group total —
    * Spark/DuckDB remainder semantics (`total = q*buckets + rem`: the
    * first `rem` buckets hold `q+1` rows, the rest `q`), proven
    * bucket-identical to the window `ntile` by `ScalableRankSpec`.
    * Pure codegen'd integer arithmetic; the `greatest(..., 1)` divisor
    * guard covers the ELSE branch that is unreachable when
    * total < buckets (then cut == total ≥ rank), keeping the
    * expression total under ANSI. */
  def ntileFromRank(
      rankCol: String, buckets: Int, totalCol: String): Column = {
    require(buckets > 0, s"ntile buckets must be > 0: $buckets")
    val b = buckets
    val q = s"($totalCol div $b)"
    val rem = s"($totalCol % $b)"
    val cut = s"(($q + 1) * $rem)"
    expr(s"""CAST((CASE
      WHEN $rem = 0 THEN (($rankCol - 1) div greatest($q, 1L)) + 1
      WHEN $rankCol <= $cut THEN (($rankCol - 1) div ($q + 1)) + 1
      ELSE $rem + (($rankCol - $cut - 1) div greatest($q, 1L)) + 1
    END) AS INT)""")
  }
}
