package graft.operators

import graft.{GraftQuery, QueryPack, Tables}
import org.apache.spark.sql.functions._

/** Skew-management patterns for heavy-key workloads (the 100 TB
  * survival kit; complements AQE's runtime skew handling with explicit
  * plan-level shapes).
  *
  *  - salted aggregation: a two-phase aggregate for pathological key
  *    skew — phase 1 fans each hot key across 16 salted sub-keys
  *    (shuffle is uniform by construction), phase 2 merges the 16
  *    partials per key. Results are identical to the direct aggregate
  *    (sums/counts/min/max are associative), which is exactly what the
  *    oracle checks.
  *  - salted broadcast-replicated join: the skewed fact side gets a
  *    random-free deterministic salt; the small dimension is exploded
  *    ×16 so every salted fact row still finds its match. The dimension
  *    stays broadcast — no fact shuffle at all.
  *
  * `events.event_type` has only 5 distinct values — every row lands in
  * 5 reducers in the naive plan, the textbook hot-key case.
  */
object ScaleOps extends QueryPack {

  private val Salts = 16

  /** Rendezvous (HRW) shard pick over n shards as a SQL expression:
    * per shard, hash md5(doc_id ':' shard) to a 32-bit integer and
    * take the argmax (ties → highest shard via the struct order —
    * deterministic either way). Shared by the rendezvous audit and
    * the GDPR delete-cost audit so both see the SAME layout. */
  private def hrwShardSql(n: Int): String =
    s"array_max(transform(sequence(0, ${n - 1}), sh -> struct(" +
      "CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':', " +
      "CAST(sh AS STRING))), 1, 8), 16, 10) AS BIGINT) AS h, " +
      "sh AS sh))).sh"

  /** DuckDB mirror of [[hrwShardSql]]'s per-(doc, shard) hash rows —
    * argmax via the order-equivalent hv*16+sh composite downstream. */
  private def hrwHashCte(n: Int): String = s"""
        hrw AS (
          SELECT doc_id, sh,
                 ('0x'||substr(md5(doc_id::VARCHAR || ':' || sh::VARCHAR),
                               1, 8))::BIGINT AS hv
          FROM documents, generate_series(0, ${n - 1}) t(sh))"""

  /** Writes `df` partitioned by `by` to `path`, overwriting, and reads
    * it back with the schema it was written with: the data columns,
    * then the partition column, as Spark lays them out. */
  private def layOut(
      s: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame,
      by: String,
      path: String): org.apache.spark.sql.DataFrame = {
    df.write.mode("overwrite").partitionBy(by).parquet(path)
    s.read.schema(org.apache.spark.sql.types.StructType(
      df.schema.filterNot(_.name == by) :+ df.schema(by))).parquet(path)
  }

  // ------- multi-dimensional layout harness (zorder + hilbert share it:
  // one definition of the grid, the Morton code, the per-file min/max
  // stats, and the skip metric, so the two layouts can never diverge on
  // the harness itself — only on the file-assignment curve under test)

  /** Quantized (ux, vx) grid over events — the two layout dimensions. */
  private def layoutBase(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.events(s, d).select(
      expr("CAST(user_id % 256 AS INT)").as("ux"),
      expr("CAST(least(255.0, greatest(0.0, floor(value))) AS INT)")
        .as("vx"))

  /** 16-bit Morton interleave of (ux, vx): bit i of ux at even
    * position 2i, bit i of vx at odd position 2i+1. */
  private val mortonSpark: String = (0 until 8).flatMap(i => Seq(
    s"shiftleft(shiftright(ux, $i) & 1, ${2 * i})",
    s"shiftleft(shiftright(vx, $i) & 1, ${2 * i + 1})")).mkString(" + ")

  /** Per-file min/max footer stats for one layout's file assignment. */
  private def layoutFiles(
      base: org.apache.spark.sql.DataFrame,
      fileId: org.apache.spark.sql.Column,
      layout: String): org.apache.spark.sql.DataFrame =
    base.groupBy(fileId.as("file_id"))
      .agg(min(col("vx")).as("vmn"), max(col("vx")).as("vmx"))
      .withColumn("layout", lit(layout))

  /** File stats → (layout, n_files, files_read, skip_frac) for the
    * `value ∈ [10, 20)` band scan. */
  private def skipMetric(
      files: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    files.groupBy(col("layout"))
      .agg(count(lit(1)).as("n_files"),
        sum(when(!(col("vmx") < 10 || col("vmn") >= 20), 1)
          .otherwise(0)).as("files_read"))
      .withColumn("skip_frac",
        round(lit(1.0) - col("files_read").cast("double") /
          col("n_files"), 4))
      .orderBy("layout")

  /** DuckDB mirrors of the harness pieces above. */
  private val layoutBaseCte = """
        base AS (
          SELECT CAST(user_id % 256 AS INT) AS ux,
                 CAST(least(255.0, greatest(0.0, floor(value))) AS INT)
                   AS vx
          FROM events)"""
  private val mortonDuck: String = (0 until 8).flatMap(i => Seq(
    s"(((ux >> $i) & 1) << ${2 * i})",
    s"(((vx >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
  private def layoutFilesCte(name: String, layout: String,
      fileIdSql: String, from: String) = s"""
        $name AS (SELECT '$layout' AS layout, $fileIdSql AS file_id,
                         min(vx) AS vmn, max(vx) AS vmx
                  FROM $from GROUP BY 1, 2)"""
  private val skipMetricSql = """
        SELECT layout, count(*) AS n_files,
               CAST(sum(CASE WHEN NOT (vmx < 10 OR vmn >= 20)
                             THEN 1 ELSE 0 END) AS BIGINT) AS files_read,
               round(1.0 - CAST(sum(CASE WHEN NOT (vmx < 10 OR vmn >= 20)
                                         THEN 1 ELSE 0 END) AS DOUBLE)
                           / count(*), 4) AS skip_frac
        FROM files GROUP BY layout ORDER BY layout"""

  /** Retraction-maintenance kernel over a prepared fact relation with
    * columns (ym, o_orderpriority, rev, is_del, is_upd): base partials
    * + signed per-row delta contributions, each reduced map-side,
    * merged by keyed sum with the n > 0 gate. Factored out of
    * `q_scale_mv_retract` so HotKeyStressSpec can drive it with a
    * synthetic skewed fact — the map-side signed reduction is what
    * keeps one hot (ym, priority) group from flooding the merge
    * shuffle, and that claim is asserted with a meter, not prose. */
  private[operators] def retractMaintain(
      fact: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // the stored view: partials over the pre-change corpus
    val base = fact.groupBy("ym", "o_orderpriority")
      .agg(count(lit(1)).as("n"), sum(col("rev")).as("r"))
    // the change feed: signed per-row contributions, reduced
    // map-side to per-key deltas before they meet the view
    val delta = fact.filter(col("is_del") || col("is_upd"))
      .select(col("ym"), col("o_orderpriority"),
        when(col("is_del"), -1L).otherwise(0L).as("n"),
        when(col("is_del"), -col("rev"))
          .otherwise(expr("(rev * 9) div 10 - rev")).as("r"))
      .groupBy("ym", "o_orderpriority")
      .agg(sum(col("n")).as("n"), sum(col("r")).as("r"))
    base.unionByName(delta)
      .groupBy("ym", "o_orderpriority")
      .agg(sum(col("n")).as("n_items"),
        sum(col("r")).as("revenue_micro"))
      .filter(col("n_items") > 0)
      .select(col("ym"), col("o_orderpriority"), col("n_items"),
        col("revenue_micro"),
        expr("revenue_micro div n_items").as("avg_item_micro"))
  }

  /** Lazy posting-list secondary-index plan + its caches (exposed so
    * `PlanGuardSpec` can pin that the zone-probe leg broadcasts the
    * tiny probe set against the zone table's range condition instead
    * of shuffling either side). */
  private[graft] def secondaryIndexPlan(
      s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, Seq[org.apache.spark.sql.DataFrame]) = {
    val li = Tables.lineitem(s, d).select(col("l_partkey"),
      expr("CAST(l_orderkey % 256 AS INT)").as("file_id"))
    val post = li.groupBy("l_partkey", "file_id")
      .agg(count(lit(1)).as("n"))
      .persist() // read by zones, the probe set, and the lookup
    post.count()
    val zones = post.groupBy("file_id")
      .agg(min(col("l_partkey")).as("smn"),
        max(col("l_partkey")).as("smx"))
    val probes = post.select("l_partkey").distinct()
      .filter(col("l_partkey") % 997 === 0)
    val pa = post.filter(col("l_partkey") % 997 === 0)
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("posting_files"),
        sum(col("n")).as("rows_matched"))
    val zf = broadcast(probes).join(zones,
        col("l_partkey") >= col("smn") &&
          col("l_partkey") <= col("smx"))
      .groupBy("l_partkey").agg(count(lit(1)).as("zone_files"))
    val out = pa.join(zf, Seq("l_partkey"), "left")
      .select(col("l_partkey"), col("rows_matched"),
        col("posting_files"),
        coalesce(col("zone_files"), lit(0L)).as("zone_files"))
      .orderBy("l_partkey")
    (out, Seq(post))
  }

  /** Lazy count-min heavy-hitters plan + its caches (exposed so the
    * plan audit sees the real computation — the registry query
    * materializes its 10-row output and releases the vocab cache).
    *
    * r11 (guide §2.3 "shuffle fewer bytes" applied to CPU): hash the
    * VOCABULARY, not the occurrence stream. The sketch cell counts are
    * Σ n(w) grouped by (r, bucket(w)) — bit-identical to counting
    * occurrences — so count words FIRST (one map-side-combinable
    * aggregate, shared with the exact top-10 leg) and md5 each DISTINCT
    * word 4×, not every occurrence 4×: ~0.4M hashes instead of ~20M at
    * sf0.1 (measured 3.4 → 1.2 s warm). At 100 TB the gap is the
    * corpus/vocab ratio — the same reason production CMS deployments
    * sketch pre-aggregated partials. */
  private[graft] def heavyHittersPlan(
      s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, Seq[org.apache.spark.sql.DataFrame]) = {
    import org.apache.spark.sql.expressions.Window
    val words = Tables.documents(s, d)
      .select(explode(filter(split(col("text"), " "), w => w =!= ""))
        .as("w"))
    val rows = Seq(0, 1, 2, 3)
    def bucket(wCol: String) = expr(
      s"CAST(conv(substr(md5(concat(CAST(r AS STRING), '_', $wCol)), 1, 8), 16, 10) AS BIGINT) % 64")
    val wc = words.groupBy("w").agg(count(lit(1)).as("n")).persist()
    val cells = wc
      .withColumn("r", explode(lit(rows.toArray)))
      .withColumn("b", bucket("w"))
      .groupBy("r", "b").agg(sum(col("n")).as("c"))
    val top = wc.orderBy(col("n").desc, col("w")).limit(10)
    val est = top.select(col("w"), explode(lit(rows.toArray)).as("r"))
      .withColumn("b", bucket("w"))
      .join(broadcast(cells), Seq("r", "b"))
      .groupBy("w").agg(min(col("c")).as("est"))
    val out = top.join(est, "w")
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("w"))))
      .select(col("rank"), col("w"), col("n"), col("est"),
        (col("est") - col("n")).as("overcount"))
      .orderBy("rank")
    (out, Seq(wc))
  }

  /** Lazy range-partition boundary plan (the 15 split points from the
    * ~2% sample) + the staged rank cache — exposed for the plan audit;
    * the registry query materializes the 15-row bounds and releases
    * the cache before the broadcast theta-join. Plan construction is
    * side-effect free; nothing runs until an action. */
  private[graft] def rangeBoundsPlan(
      s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame,
         Seq[org.apache.spark.sql.DataFrame]) = {
    val sample = Tables.orders(s, d)
      .select(col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)")
          .as("price_c"))
      .filter(
        expr("CAST(conv(substr(md5(CAST(o_orderkey AS STRING)), 1, 8), " +
          "16, 10) AS BIGINT) % 50 = 0"))
    val (ranked, staged) = graft.sparkutil.ScalableRank
      .withGlobalRank(sample, lit(1),
        Seq(col("price_c"), col("o_orderkey")), "__rank", "__tot")
    val bounds = ranked
      .withColumn("tile", graft.sparkutil.ScalableRank
        .ntileFromRank("__rank", 16, "__tot"))
      .filter(col("tile") < 16)
      .groupBy("tile").agg(max(col("price_c")).as("hi"))
    (bounds, Seq(staged))
  }

  val queries: Map[String, GraftQuery] = Map(

    // -------------------------------------------------- salted aggregation
    "q_scale_salted_agg" -> GraftQuery(
      run = (s, d) =>
        Tables.events(s, d)
          .withColumn("salt", pmod(col("event_id"), lit(Salts)))
          .groupBy(col("event_type"), col("salt"))
          .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"),
            min(col("value")).as("mn"), max(col("value")).as("mx"))
          .groupBy(col("event_type"))
          .agg(sum(col("n")).as("n"), round(sum(col("sv")), 4).as("sum_value"),
            round(min(col("mn")), 2).as("min_value"),
            round(max(col("mx")), 2).as("max_value"))
          .orderBy("event_type"),
      oracle = Some("""
        SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value,
               round(min(value), 2) AS min_value,
               round(max(value), 2) AS max_value
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // ------------------------------------- salted dimension-replicated join
    "q_scale_salted_join" -> GraftQuery(
      run = (s, d) => {
        val dim = Tables.events(s, d)
          .groupBy(col("event_type")).agg(avg(col("value")).as("type_avg"))
          .withColumn("salt", explode(sequence(lit(0), lit(Salts - 1))))
        Tables.events(s, d)
          .withColumn("salt", pmod(col("event_id"), lit(Salts)).cast("int"))
          .join(broadcast(dim), Seq("event_type", "salt"))
          .filter(col("value") > col("type_avg"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_above"),
            round(avg(col("value") - col("type_avg")), 4).as("avg_excess"))
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH dim AS (SELECT event_type, avg(value) AS type_avg
                     FROM events GROUP BY event_type)
        SELECT e.event_type, count(*) AS n_above,
               round(avg(e.value - dim.type_avg), 4) AS avg_excess
        FROM events e JOIN dim ON e.event_type = dim.event_type
        WHERE e.value > dim.type_avg
        GROUP BY e.event_type ORDER BY e.event_type""")),

    // ------------------------------------------- bucketed co-located join
    // The shuffle-elimination pattern for repeated big-big joins: both
    // sides are written bucketed (and sorted) by the join key, so a
    // sort-merge join reads co-located buckets with NO exchange on
    // either side — at 100 TB this converts every downstream join on
    // the key into a scan-local merge. The oracle checks results (which
    // are plan-independent); `PlanGuardSpec` asserts the exchange-free
    // plan shape with broadcast disabled.
    "q_scale_bucketed_join" -> GraftQuery(
      run = (s, d) => {
        val wh = graft.StoreBuilds.scratchDir(s, d, "graft-wh")
        val ev = Tables.events(s, d).select(
          col("user_id"), col("event_type"), col("value"))
        ev.write.mode("overwrite")
          .bucketBy(16, "user_id").sortBy("user_id")
          .option("path", s"$wh/ev").saveAsTable("graft_ev_bucketed")
        ev.groupBy("user_id").agg(avg(col("value")).as("user_avg"))
          .write.mode("overwrite")
          .bucketBy(16, "user_id").sortBy("user_id")
          .option("path", s"$wh/users").saveAsTable("graft_users_bucketed")
        s.table("graft_ev_bucketed")
          .join(s.table("graft_users_bucketed"), "user_id")
          .filter(col("value") > col("user_avg"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_above"))
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH dim AS (SELECT user_id, avg(value) AS user_avg
                     FROM events GROUP BY user_id)
        SELECT e.event_type, count(*) AS n_above
        FROM events e JOIN dim ON e.user_id = dim.user_id
        WHERE e.value > dim.user_avg
        GROUP BY e.event_type ORDER BY e.event_type""")),

    // ------------------------------------------------ CDC upsert (merge)
    // Latest-wins merge without a table format: base ∪ changes, then one
    // window keyed by the primary key ordered by version — the upsert
    // shape for engines without MERGE INTO. At 100 TB both sides shuffle
    // once on the key (or zero times if both are bucketed on it — see
    // q_scale_bucketed_join); the dedup is a per-key top-1, not a sort.
    // "Changes" = the events' later half replayed with value + 1000.
    "q_scale_upsert" -> GraftQuery(
      run = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val base = Tables.events(s, d)
          .select(col("event_id"), col("event_type"), col("value"),
            lit(0).as("version"))
        val changes = Tables.events(s, d)
          .filter(col("event_id") % 2 === 0)
          .select(col("event_id"), col("event_type"),
            (col("value") + 1000.0).as("value"), lit(1).as("version"))
        // latest-wins as a max_by aggregate, not a row_number window
        // (r11, guide §2.4/§4): versions are unique per key (0 = base,
        // 1 = change, event_id unique per side), so the pick is
        // identical — and the aggregate partially reduces map-side,
        // where the window exchanged + sorted every merged row
        base.unionByName(changes)
          .groupBy("event_id")
          .agg(max_by(struct(col("event_type"), col("value"),
            col("version")), col("version")).as("m"))
          .select(col("event_id"), col("m.event_type").as("event_type"),
            col("m.value").as("value"), col("m.version").as("version"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            round(sum(col("value")), 4).as("sum_value"),
            sum(col("version")).as("n_updated"))
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH merged AS (
          SELECT event_id, event_type, value, version FROM (
            SELECT event_id, event_type, value, version,
                   row_number() OVER (PARTITION BY event_id
                                      ORDER BY version DESC) AS rn
            FROM (SELECT event_id, event_type, value, 0 AS version
                  FROM events
                  UNION ALL
                  SELECT event_id, event_type, value + 1000.0, 1
                  FROM events WHERE event_id % 2 = 0))
          WHERE rn = 1)
        SELECT event_type, count(*) AS n,
               round(sum(value), 4) AS sum_value,
               CAST(sum(version) AS BIGINT) AS n_updated
        FROM merged GROUP BY event_type ORDER BY event_type""")),

    // ---------------------- incremental materialized-view maintenance
    // The aggregate-level sibling of row-level upsert: a stored
    // monthly-revenue view is maintained by MERGING its partial
    // aggregates with the partial aggregates of an arriving delta
    // batch (orders from 1997 on), never rescanning the base. sum and
    // count are algebraic, so merge = group-by-sum over the union of
    // partials; avg is derived at read time from the maintained pair
    // (the classic reason views store (sum, count), not avg). The
    // oracle is the FULL recompute — equality is the correctness
    // contract of incremental maintenance itself. Revenue lives on a
    // 1e4 integer grid (one FP product per row, summed as BIGINT), so
    // the merged and recomputed sums are bit-identical regardless of
    // summation order. At 100 TB: the base aggregate is |groups| rows
    // (compact, stored), the delta scan reads only the new
    // partitions' bytes, and the merge is one map-side-combinable
    // shuffle of two |groups|-sized inputs.
    "q_scale_mv_maintain" -> GraftQuery(
      run = (s, d) => {
        val revMicro = expr(
          "CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000.0" +
            " + 0.5) AS BIGINT)")
        def partials(df: org.apache.spark.sql.DataFrame) = df
          .select(date_format(col("o_orderdate"), "yyyy-MM").as("ym"),
            col("o_orderpriority"), revMicro.as("rev"))
          .groupBy("ym", "o_orderpriority")
          .agg(count(lit(1)).as("n_items"),
            sum(col("rev")).as("revenue_micro"))
        val fact = Tables.orders(s, d)
          .join(Tables.lineitem(s, d),
            col("o_orderkey") === col("l_orderkey"))
        val cut = "DATE '1997-01-01'"
        val baseView = partials(fact.filter(expr(s"o_orderdate < $cut")))
        val deltaAgg = partials(fact.filter(expr(s"o_orderdate >= $cut")))
        baseView.unionByName(deltaAgg)
          .groupBy("ym", "o_orderpriority")
          .agg(sum(col("n_items")).as("n_items"),
            sum(col("revenue_micro")).as("revenue_micro"))
          .select(col("ym"), col("o_orderpriority"), col("n_items"),
            col("revenue_micro"),
            expr("revenue_micro div n_items").as("avg_item_micro"))
          .orderBy("ym", "o_orderpriority")
      },
      oracle = Some("""
        SELECT strftime(o_orderdate, '%Y-%m') AS ym, o_orderpriority,
               count(*) AS n_items,
               CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount)
                                   * 10000.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS revenue_micro,
               CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount)
                                   * 10000.0 + 0.5) AS BIGINT))
                    // count(*) AS BIGINT) AS avg_item_micro
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        GROUP BY 1, 2 ORDER BY ym, o_orderpriority""")),

    // --------------- retraction-aware view maintenance (CDC deletes/updates)
    // The half of incremental maintenance q_scale_mv_maintain doesn't
    // cover: the delta is not new rows but CHANGES to existing ones —
    // cancelled orders (deletes) and price corrections (updates), the
    // Flink-retract-stream / Delta-CDF shape. Each change row reduces
    // to a SIGNED partial contribution map-side (delete → (−1, −rev);
    // update → (0, rev′−rev), the algebraic sum of its retract+insert
    // pair), and the maintained view is base partials + signed deltas
    // merged by the same keyed sum — no row of the stored view is
    // recomputed from facts. Groups that empty out are dropped by the
    // n > 0 gate (the retraction analogue of DELETE FROM view). The
    // oracle IS the full recompute over the post-CDC state: equality
    // is the correctness contract of retraction maintenance. All
    // arithmetic in exact integer micros, change-set membership is a
    // deterministic key predicate, so both engines trace identical
    // signed sums. At 100 TB the delta pass reads only the change
    // feed, and the merge is two |groups|-sized inputs co-partitioned
    // on the view key.
    "q_scale_mv_retract" -> GraftQuery(
      run = (s, d) => {
        val revMicro = expr(
          "CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000.0" +
            " + 0.5) AS BIGINT)")
        val isDel = expr("l_orderkey % 97 = 0")
        val isUpd = expr("l_orderkey % 89 = 0 AND l_orderkey % 97 <> 0")
        val fact = Tables.orders(s, d)
          .join(Tables.lineitem(s, d),
            col("o_orderkey") === col("l_orderkey"))
          .select(date_format(col("o_orderdate"), "yyyy-MM").as("ym"),
            col("o_orderpriority"), revMicro.as("rev"),
            isDel.as("is_del"), isUpd.as("is_upd"))
        retractMaintain(fact).orderBy("ym", "o_orderpriority")
      },
      oracle = Some("""
        WITH f AS (
          SELECT strftime(o_orderdate, '%Y-%m') AS ym, o_orderpriority,
                 CAST(floor(l_extendedprice * (1.0 - l_discount)
                            * 10000.0 + 0.5) AS BIGINT) AS rev,
                 l_orderkey % 97 = 0 AS is_del,
                 l_orderkey % 89 = 0 AND l_orderkey % 97 <> 0 AS is_upd
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        s AS (SELECT ym, o_orderpriority,
                     CASE WHEN is_upd THEN rev * 9 // 10 ELSE rev END
                       AS rev
              FROM f WHERE NOT is_del)
        SELECT ym, o_orderpriority, count(*) AS n_items,
               CAST(sum(rev) AS BIGINT) AS revenue_micro,
               CAST(sum(rev) // count(*) AS BIGINT) AS avg_item_micro
        FROM s GROUP BY 1, 2 ORDER BY ym, o_orderpriority""")),

    // --------------------------------------------- partition pruning
    // The other scan-elimination pattern: data laid out partitioned by a
    // filter column means a selective query READS only matching
    // directories — at 100 TB, `WHERE event_type = 'click'` over a
    // type-partitioned table scans 1/5th of the bytes before a single
    // row is decoded. `PlanGuardSpec` asserts the pruned scan.
    "q_scale_partition_pruning" -> GraftQuery(
      run = (s, d) => {
        val layout =
          graft.StoreBuilds.scratchDir(s, d, "graft-pp") + "/layout"
        layOut(s, Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value")), "event_type", layout)
          .filter(col("event_type") === "click")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
          .orderBy("event_type")
      },
      oracle = Some("""
        SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value
        FROM events WHERE event_type = 'click'
        GROUP BY event_type ORDER BY event_type""")),

    // ------------------------------------------ data-mixture resampling
    // Deterministic stratified sampling to target per-language mixture
    // weights — the corpus-rebalancing step before training (e.g.
    // upweight high-quality languages, downsample the head). Keep/drop
    // is a pure function of md5(doc_id) against an INTEGER threshold
    // (rate × 2³²), so the sample is reproducible across runs, engines,
    // and cluster sizes, and the filter is map-side — no shuffle except
    // the tiny per-language audit aggregate. At 100 TB the same
    // predicate pushes into the scan as a cheap row filter.
    "q_scale_mixture" -> GraftQuery(
      run = (s, d) => {
        val h = expr(
          "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) " +
            "AS BIGINT)")
        val thresh = expr("""
          CASE lang WHEN 'en' THEN 2147483648
                    WHEN 'de' THEN 3221225472
                    WHEN 'zh' THEN 1073741824
                    ELSE 4294967296 END""")
        Tables.documents(s, d)
          .withColumn("keep", (h < thresh).cast("int"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_total"), sum(col("keep")).as("n_sampled"))
          .withColumn("sampled_frac",
            round(col("n_sampled").cast("double") / col("n_total"), 4))
          .orderBy("lang")
      },
      oracle = Some("""
        WITH k AS (
          SELECT lang,
                 CASE WHEN ('0x'||substr(md5(doc_id::VARCHAR),1,8))::BIGINT
                      < CASE lang WHEN 'en' THEN 2147483648
                                  WHEN 'de' THEN 3221225472
                                  WHEN 'zh' THEN 1073741824
                                  ELSE 4294967296 END
                      THEN 1 ELSE 0 END AS keep
          FROM documents)
        SELECT lang, count(*) AS n_total,
               CAST(sum(keep) AS BIGINT) AS n_sampled,
               round(CAST(sum(keep) AS DOUBLE) / count(*), 4) AS sampled_frac
        FROM k GROUP BY lang ORDER BY lang""")),

    // --------------------------------------------- sketched quantiles
    // The constant-memory quantile path: exact percentiles shuffle and
    // sort every group member, while the sketch (GK here, t-digest in
    // DuckDB) keeps O(1/ε) state per group and merges map-side — the
    // only way to compute percentiles over 100 TB in one pass. Like
    // q_scale_approx_distinct, each engine checks its OWN sketch
    // against its exact value inside a generous band (10% of the
    // p10–p90 spread), so the flag is deterministic without requiring
    // the two sketches to agree bit-for-bit.
    "q_scale_approx_quantile" -> GraftQuery(
      run = (s, d) =>
        Tables.events(s, d)
          .groupBy("event_type")
          .agg(
            round(expr("percentile(value, 0.5D)"), 4).as("exact_p50"),
            round(expr("percentile(value, 0.1D)"), 4).as("exact_p10"),
            round(expr("percentile(value, 0.9D)"), 4).as("exact_p90"),
            expr("percentile_approx(value, 0.5D, 10000)").as("ap"))
          .select(col("event_type"), col("exact_p50"), col("exact_p10"),
            col("exact_p90"),
            (abs(col("ap") - col("exact_p50")) <=
              (col("exact_p90") - col("exact_p10")) * 0.1).cast("int")
              .as("approx_within_band"))
          .orderBy("event_type"),
      oracle = Some("""
        SELECT event_type,
               round(quantile_cont(value, 0.5), 4) AS exact_p50,
               round(quantile_cont(value, 0.1), 4) AS exact_p10,
               round(quantile_cont(value, 0.9), 4) AS exact_p90,
               CAST(abs(approx_quantile(value, 0.5)
                        - round(quantile_cont(value, 0.5), 4))
                    <= (round(quantile_cont(value, 0.9), 4)
                        - round(quantile_cont(value, 0.1), 4)) * 0.1 AS INT)
                 AS approx_within_band
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // ----------------------------------------------- sketched distinct count
    // HLL++ distinct counting — the constant-memory path for cardinality
    // at 100 TB (exact distinct shuffles every key). The oracle checks
    // the exact count and that the sketch landed within its error bound;
    // at this cardinality (≤ a few hundred users per type) HLL++ is
    // exact in both engines, so the flag is deterministic.
    "q_scale_approx_distinct" -> GraftQuery(
      run = (s, d) =>
        Tables.events(s, d)
          .groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("exact_users"),
            approx_count_distinct(col("user_id"), rsd = 0.05)
              .as("approx_users"))
          .select(col("event_type"), col("exact_users"),
            (abs(col("approx_users") - col("exact_users")) <=
              col("exact_users") * 0.1).cast("int").as("within_10pct"))
          .orderBy("event_type"),
      oracle = Some("""
        SELECT event_type, count(DISTINCT user_id) AS exact_users,
               CAST(abs(approx_count_distinct(user_id)
                        - count(DISTINCT user_id))
                    <= count(DISTINCT user_id) * 0.1 AS INT) AS within_10pct
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // --------------------------------------------------- Z-order layout
    // Multi-dimensional data clustering (the lakehouse OPTIMIZE ZORDER
    // primitive): interleave the bits of two quantized dimensions into a
    // single sort key so that a range-partitioned write co-locates rows
    // that are close in EITHER dimension — per-file min/max footers then
    // skip files for predicates on the non-leading column, which a
    // single-column sort cannot do. The query materializes the layout
    // decision as arithmetic (file = z-range bucket ≙ repartitionByRange
    // boundary at uniform z) and outputs the skipping metric itself:
    // how many of the 256 files a `value ∈ [10, 20)` scan must read
    // under z-order vs a user_id-sorted layout. Everything is integer
    // bit math — exact in both engines.
    "q_scale_zorder" -> GraftQuery(
      run = (s, d) => {
        val base = layoutBase(s, d)
        skipMetric(
          layoutFiles(base.withColumn("z", expr(mortonSpark)),
            expr("z div 256"), "zorder")
            .unionByName(layoutFiles(base, col("ux"), "linear")))
      },
      oracle = Some(s"""
        WITH $layoutBaseCte,
        ${layoutFilesCte("zf", "zorder", s"($mortonDuck) // 256", "base")},
        ${layoutFilesCte("lf", "linear", "ux", "base")},
        files AS (SELECT * FROM zf UNION ALL SELECT * FROM lf)
        $skipMetricSql""")),

    // --------------------------------------------- Hilbert-curve layout
    // The locality upgrade over Z-order: the Hilbert curve visits the
    // (ux, vx) grid in UNIT steps (adjacent cells stay adjacent on the
    // curve — no Morton "seams" where the code jumps across the grid),
    // so range-partitioned files cover tighter rectangles and min/max
    // skipping prunes more files for the same predicate. The index is
    // the standard 8-level rotate-and-flip recurrence unrolled into 8
    // integer CASE stages (state (x, y, d) per level — pure codegen'd
    // arithmetic, exact in both engines; `HilbertSpec` proves the
    // formula is a bijection with UNIT steps — the defining locality
    // property Morton codes lack — and checks the query end-to-end on
    // a controlled grid; at the test scales the band predicate reads
    // the same file count under both curves, which is the honest
    // result at 160 files). Same harness as q_scale_zorder: 256 files ≙
    // range-partition boundaries at uniform index, output = how many
    // files a `value ∈ [10, 20)` scan reads under each layout.
    "q_scale_hilbert" -> GraftQuery(
      run = (s, d) => {
        // stage s (from 128 down to 1): classic xy→d step —
        //   rx = bit of x at s, ry = bit of y at s,
        //   d += s²·((3rx) xor ry), then flip (rx=1, ry=0) and swap
        //   (ry=0) rotate the subquadrant into canonical orientation.
        // Values mask to the low bits each level (x mod s): the flip
        // s−1−x stays non-negative, and only bits below s are
        // consulted by later levels — same curve, no sign-bit hazards.
        def stage(df: org.apache.spark.sql.DataFrame, sBit: Int) = {
          val m = sBit - 1
          val rx = s"CAST((hx & $sBit) > 0 AS INT)"
          val ry = s"CAST((hy & $sBit) > 0 AS INT)"
          df.select(col("ux"), col("vx"),
            expr(s"hd + $sBit * $sBit * ((3 * $rx) ^ $ry)").as("hd"),
            expr(s"""CASE WHEN $ry = 0 THEN
                       CASE WHEN $rx = 1 THEN $m - (hy & $m)
                            ELSE (hy & $m) END
                     ELSE (hx & $m) END""").as("nhx"),
            expr(s"""CASE WHEN $ry = 0 THEN
                       CASE WHEN $rx = 1 THEN $m - (hx & $m)
                            ELSE (hx & $m) END
                     ELSE (hy & $m) END""").as("nhy"))
            .withColumnRenamed("nhx", "hx").withColumnRenamed("nhy", "hy")
        }
        val base = layoutBase(s, d)
        val hilbert = (0 until 8).foldLeft(
          base.withColumn("hx", col("ux")).withColumn("hy", col("vx"))
            .withColumn("hd", lit(0))) { (df, i) =>
          stage(df, 1 << (7 - i))
        }
        skipMetric(
          layoutFiles(hilbert, expr("hd div 256"), "hilbert")
            .unionByName(layoutFiles(base.withColumn("z", expr(mortonSpark)),
              expr("z div 256"), "zorder"))
            .unionByName(layoutFiles(base, col("ux"), "linear")))
      },
      oracle = Some {
        def hStage(prev: String, cur: String, sBit: Int) = {
          val m = sBit - 1
          val rx = s"CAST((hx & $sBit) > 0 AS INT)"
          val ry = s"CAST((hy & $sBit) > 0 AS INT)"
          s"""
        $cur AS (
          SELECT ux, vx,
                 hd + $sBit * $sBit * xor(3 * $rx, $ry) AS hd,
                 CASE WHEN $ry = 0 THEN
                   CASE WHEN $rx = 1 THEN $m - (hy & $m)
                        ELSE (hy & $m) END
                 ELSE (hx & $m) END AS hx,
                 CASE WHEN $ry = 0 THEN
                   CASE WHEN $rx = 1 THEN $m - (hx & $m)
                        ELSE (hx & $m) END
                 ELSE (hy & $m) END AS hy
          FROM $prev)"""
        }
        s"""
        WITH $layoutBaseCte,
        h0 AS (SELECT ux, vx, ux AS hx, vx AS hy, 0 AS hd FROM base),
        ${(0 until 8).map(i => hStage(s"h$i", s"h${i + 1}", 1 << (7 - i)))
          .mkString(",")},
        ${layoutFilesCte("hf", "hilbert", "hd // 256", "h8")},
        ${layoutFilesCte("zf", "zorder", s"($mortonDuck) // 256", "base")},
        ${layoutFilesCte("lf", "linear", "ux", "base")},
        files AS (SELECT * FROM hf UNION ALL SELECT * FROM zf
                  UNION ALL SELECT * FROM lf)
        $skipMetricSql"""
      }),

    // --------------------------- secondary (posting-list) index pruning
    // (plan builder at secondaryIndexPlan — the zone-probe leg must
    // stay a BROADCAST range join of the tiny probe set, never a
    // zone-table shuffle; pinned in PlanGuardSpec)
    // The file-pruning tier BELOW min/max zones: for a point predicate
    // on a high-cardinality column UNCORRELATED with the layout key
    // (here l_partkey over an l_orderkey-clustered layout), every
    // file's [min, max] spans nearly the whole value domain, so zone
    // maps prune ~nothing — the lakehouse answer is a posting-list
    // secondary index (Hudi record-index / Iceberg bloom class):
    // value → the exact set of files containing it. The build is ONE
    // map-side-combinable (value, file) aggregate — index size is the
    // distinct-pair count, never row-scale — and a point lookup reads
    // |posting| files instead of |zone-overlap| files. Output per
    // probed part: matched rows, files the posting index reads,
    // files a zone map would read (posting ⊆ zone always — the gap IS
    // the metric). All integers — exact hash compare. At 100 TB the
    // probe side is an index point-read; only the build scans the
    // corpus, and it piggybacks on any full pass.
    "q_scale_secondary_index" -> GraftQuery(
      run = (s, d) => {
        val (out, caches) = secondaryIndexPlan(s, d)
        val rows = out.collect()
        caches.foreach(_.unpersist())
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
      },
      oracle = Some("""
        WITH li AS (SELECT l_partkey,
                           CAST(l_orderkey % 256 AS INT) AS file_id
                    FROM lineitem),
        post AS (SELECT l_partkey, file_id, count(*) AS n
                 FROM li GROUP BY 1, 2),
        zones AS (SELECT file_id, min(l_partkey) AS smn,
                         max(l_partkey) AS smx
                  FROM post GROUP BY 1),
        probes AS (SELECT DISTINCT l_partkey FROM post
                   WHERE l_partkey % 997 = 0),
        pa AS (SELECT l_partkey, count(*) AS posting_files,
                      CAST(sum(n) AS BIGINT) AS rows_matched
               FROM post WHERE l_partkey % 997 = 0 GROUP BY 1),
        zf AS (SELECT p.l_partkey, count(*) AS zone_files
               FROM probes p JOIN zones z
                 ON p.l_partkey BETWEEN z.smn AND z.smx
               GROUP BY 1)
        SELECT pa.l_partkey, rows_matched, posting_files,
               coalesce(zone_files, 0) AS zone_files
        FROM pa LEFT JOIN zf ON zf.l_partkey = pa.l_partkey
        ORDER BY pa.l_partkey""")),

    // ------------------------- data-quality constraint suite (Deequ-ish)
    // The validation gate a corpus passes before training: each
    // constraint is one aggregate over the table, evaluated in a single
    // pass (one scan, partial+final agg — at 100 TB this is a
    // scan-speed job). Output: (constraint, observed metric, passed).
    "q_scale_constraints" -> GraftQuery(
      run = (s, d) => {
        val m = Tables.documents(s, d).agg(
          count(lit(1)).as("n_rows"),
          count(col("text")).as("n_text"),
          count_distinct(col("doc_id")).as("n_ids"),
          count(when(col("lang").isin("en", "de", "fr", "es", "zh"),
            lit(1))).as("n_lang_ok"),
          count(when(col("n_chars") >= 1 && col("n_chars") <= 100000,
            lit(1))).as("n_len_ok"),
          count(when(col("n_chars") === length(col("text")), lit(1)))
            .as("n_consistent"))
        m.select(
          struct(lit("completeness_text").as("check_name"),
            col("n_text").as("observed"),
            (col("n_text") === col("n_rows")).as("passed")).as("c1"),
          struct(lit("uniqueness_doc_id").as("check_name"),
            col("n_ids").as("observed"),
            (col("n_ids") === col("n_rows")).as("passed")).as("c2"),
          struct(lit("lang_in_domain").as("check_name"),
            col("n_lang_ok").as("observed"),
            (col("n_lang_ok") === col("n_rows")).as("passed")).as("c3"),
          struct(lit("n_chars_in_range").as("check_name"),
            col("n_len_ok").as("observed"),
            (col("n_len_ok") === col("n_rows")).as("passed")).as("c4"),
          struct(lit("n_chars_consistent").as("check_name"),
            col("n_consistent").as("observed"),
            (col("n_consistent") === col("n_rows")).as("passed")).as("c5"))
          .select(explode(array(col("c1"), col("c2"), col("c3"), col("c4"),
            col("c5"))).as("c"))
          .select(col("c.check_name"), col("c.observed"), col("c.passed"))
          .orderBy("check_name")
      },
      oracle = Some("""
        WITH m AS (
          SELECT count(*) AS n_rows, count(text) AS n_text,
                 count(DISTINCT doc_id) AS n_ids,
                 count(*) FILTER (WHERE lang IN
                   ('en','de','fr','es','zh')) AS n_lang_ok,
                 count(*) FILTER (WHERE n_chars BETWEEN 1 AND 100000)
                   AS n_len_ok,
                 count(*) FILTER (WHERE n_chars = length(text))
                   AS n_consistent
          FROM documents)
        SELECT check_name, observed, passed FROM (
          SELECT 'completeness_text' AS check_name, n_text AS observed,
                 n_text = n_rows AS passed FROM m
          UNION ALL SELECT 'uniqueness_doc_id', n_ids, n_ids = n_rows FROM m
          UNION ALL SELECT 'lang_in_domain', n_lang_ok,
                 n_lang_ok = n_rows FROM m
          UNION ALL SELECT 'n_chars_in_range', n_len_ok,
                 n_len_ok = n_rows FROM m
          UNION ALL SELECT 'n_chars_consistent', n_consistent,
                 n_consistent = n_rows FROM m)
        ORDER BY check_name""")),

    // ----------------------- quota-exact stratified sample (fixed budget)
    // Exactly min(quota, n_l) documents per language, chosen by md5
    // order — the fixed-token-budget sampling a training mix needs when
    // proportional rates (q_scale_mixture) must give way to hard
    // per-stratum caps. The md5 rank is reproducible across engines,
    // partitionings, and cluster sizes; the per-stratum window sorts
    // only within strata (at 100 TB: one shuffle on lang, each reducer
    // top-K's its stratum — or the TopKAggregator form for huge strata).
    "q_scale_quota_sample" -> GraftQuery(
      run = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val quota = 40
        Tables.documents(s, d)
          .withColumn("h", expr(
            "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"))
          .withColumn("rk", row_number().over(
            Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))))
          .filter(col("rk") <= quota)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_sampled"),
            sum(col("n_chars")).as("chars_sampled"),
            min(col("h")).as("min_h"))
          .orderBy("lang")
      },
      oracle = Some("""
        WITH ranked AS (
          SELECT lang, n_chars, h,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY h, doc_id) AS rk
          FROM (SELECT lang, n_chars, doc_id,
                       ('0x'||substr(md5(doc_id::VARCHAR),1,8))::BIGINT AS h
                FROM documents))
        SELECT lang, count(*) AS n_sampled,
               CAST(sum(n_chars) AS BIGINT) AS chars_sampled,
               min(h) AS min_h
        FROM ranked WHERE rk <= 40
        GROUP BY lang ORDER BY lang""")),

    // ------------------------------ distribution drift (PSI) between
    // dataset versions — the production drift gate: 10 equal-width bins
    // over the BASE version's range, per-bin population shares of both
    // versions, and the population-stability-index term
    // (p2−p1)·ln(p2/p1) with add-half smoothing. Bin edges come from a
    // 1-row broadcast aggregate; the binning arithmetic is the same
    // expression in both engines so edge landings are bit-identical.
    // v2 reuses the snapshot-diff derivation (drop every 10th event,
    // double every 7th value) so the drift is real and self-contained.
    "q_scale_drift" -> GraftQuery(
      run = (s, d) => {
        val v1 = Tables.events(s, d).select(col("value").as("x"))
        val v2 = Tables.events(s, d)
          .filter(col("event_id") % 10 =!= 0)
          .select(when(col("event_id") % 7 === 0, col("value") * 2.0)
            .otherwise(col("value")).as("x"))
        val edges = v1.agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
        def binned(v: org.apache.spark.sql.DataFrame, tag: String) =
          v.crossJoin(broadcast(edges))
            .select(least(greatest(
              floor((col("x") - col("lo")) / (col("hi") - col("lo")) * 10)
                .cast("int"), lit(0)), lit(9)).as("bin"))
            .groupBy("bin").agg(count(lit(1)).as(s"n_$tag"))
        binned(v1, "v1").join(binned(v2, "v2"), Seq("bin"), "full_outer")
          .select(col("bin"),
            coalesce(col("n_v1"), lit(0L)).as("n_v1"),
            coalesce(col("n_v2"), lit(0L)).as("n_v2"))
          .crossJoin(broadcast(
            Tables.events(s, d).agg(
              count(lit(1)).as("t1"),
              count(when(col("event_id") % 10 =!= 0, lit(1))).as("t2"))))
          .select(col("bin"), col("n_v1"), col("n_v2"),
            round(((col("n_v2") + lit(0.5)) / (col("t2") + lit(5.0)) -
              (col("n_v1") + lit(0.5)) / (col("t1") + lit(5.0))) *
              log(((col("n_v2") + lit(0.5)) / (col("t2") + lit(5.0))) /
                ((col("n_v1") + lit(0.5)) / (col("t1") + lit(5.0)))), 6)
              .as("psi_term"))
          .orderBy("bin")
      },
      oracle = Some("""
        WITH v1 AS (SELECT value AS x FROM events),
        v2 AS (SELECT CASE WHEN event_id % 7 = 0 THEN value * 2.0
                           ELSE value END AS x
               FROM events WHERE event_id % 10 <> 0),
        e AS (SELECT min(x) AS lo, max(x) AS hi FROM v1),
        b1 AS (SELECT least(greatest(
                 CAST(floor((x - lo) / (hi - lo) * 10) AS INT), 0), 9)
                 AS bin, count(*) AS n_v1
               FROM v1, e GROUP BY 1),
        b2 AS (SELECT least(greatest(
                 CAST(floor((x - lo) / (hi - lo) * 10) AS INT), 0), 9)
                 AS bin, count(*) AS n_v2
               FROM v2, e GROUP BY 1),
        t AS (SELECT count(*) AS t1,
                     count(*) FILTER (WHERE event_id % 10 <> 0) AS t2
              FROM events),
        m AS (SELECT coalesce(b1.bin, b2.bin) AS bin,
                     coalesce(n_v1, 0) AS n_v1, coalesce(n_v2, 0) AS n_v2,
                     t1, t2
              FROM b1 FULL OUTER JOIN b2 ON b2.bin = b1.bin CROSS JOIN t)
        SELECT bin, n_v1, n_v2,
               round(((n_v2 + 0.5) / (t2 + 5.0) -
                      (n_v1 + 0.5) / (t1 + 5.0)) *
                     ln(((n_v2 + 0.5) / (t2 + 5.0)) /
                        ((n_v1 + 0.5) / (t1 + 5.0))), 6) AS psi_term
        FROM m ORDER BY bin""")),

    // ------------------------------- snapshot diff (version reconcile)
    // Classify every key across two dataset versions as added /
    // removed / changed / unchanged — the reconciliation op behind
    // incremental corpus refreshes. v2 is derived deterministically
    // in-query (drop every 10th event, double the value of every 7th)
    // so the diff is self-contained; the shape is one full-outer join
    // on the key + change classification, shuffling only (key, digest).
    "q_scale_snapshot_diff" -> GraftQuery(
      run = (s, d) => {
        val v1 = Tables.events(s, d)
          .select(col("event_id"), round(col("value"), 4).as("v"))
        val v2 = Tables.events(s, d)
          .filter(col("event_id") % 10 =!= 0)
          .select(col("event_id"),
            round(when(col("event_id") % 7 === 0, col("value") * 2.0)
              .otherwise(col("value")), 4).as("v"))
        v1.as("a").join(v2.as("b"), Seq("event_id"), "full_outer")
          .select(
            when(col("a.v").isNull, "added")
              .when(col("b.v").isNull, "removed")
              .when(col("a.v") =!= col("b.v"), "changed")
              .otherwise("unchanged").as("change"))
          .groupBy("change").agg(count(lit(1)).as("n"))
          .orderBy("change")
      },
      oracle = Some("""
        WITH v1 AS (SELECT event_id, round(value, 4) AS v FROM events),
        v2 AS (SELECT event_id,
                      round(CASE WHEN event_id % 7 = 0 THEN value * 2.0
                                 ELSE value END, 4) AS v
               FROM events WHERE event_id % 10 <> 0)
        SELECT CASE WHEN a.v IS NULL THEN 'added'
                    WHEN b.v IS NULL THEN 'removed'
                    WHEN a.v <> b.v THEN 'changed'
                    ELSE 'unchanged' END AS change,
               count(*) AS n
        FROM v1 a FULL OUTER JOIN v2 b USING (event_id)
        GROUP BY 1 ORDER BY 1""")),

    // ------------------------- count-min sketch heavy hitters (hot keys)
    // The streaming-sketch answer to "which keys are hot?" — the
    // detection primitive that FEEDS the salting patterns above: at
    // 100 TB you cannot afford an exact global count per key just to
    // find the handful that need skew handling, but a d×w count-min
    // sketch is d·w integers regardless of corpus size (here 4×64;
    // production ~4×2^20). Counts shuffle as (row, bucket) partials —
    // 256 cells total cross the wire, never the words.
    // Estimates are min over rows of the hashed cell, an overestimate
    // by construction (est ≥ exact, equality when no collision) — the
    // output reports both sides so the error is measured, not assumed.
    // md5-derived bucket hashing keeps every cell integer-exact and
    // engine-independent; the top-10 ground truth is computed exactly
    // for comparison (the part a real deployment cannot do at scale).
    "q_scale_heavy_hitters" -> GraftQuery(
      run = (s, d) => {
        val (out, caches) = heavyHittersPlan(s, d)
        // 10-row output: materialize and release the vocab cache
        // (shared helper — unpersists in finally even if collect throws)
        graft.sparkutil.ScalableRank.materializeAndRelease(s, out, caches)
      },
      oracle = Some("""
        WITH w AS (SELECT unnest(list_filter(string_split(text, ' '),
                                             x -> x <> '')) AS w
                   FROM documents),
        r AS (SELECT unnest([0, 1, 2, 3]) AS r),
        cells AS (SELECT r.r,
                         ('0x'||substr(md5(r.r::VARCHAR || '_' || w.w),1,8))::BIGINT
                           % 64 AS b,
                         count(*) AS c
                  FROM w CROSS JOIN r GROUP BY 1, 2),
        top AS (SELECT w, count(*) AS n FROM w GROUP BY w
                ORDER BY n DESC, w LIMIT 10),
        est AS (SELECT top.w, min(c.c) AS est
                FROM top CROSS JOIN r
                JOIN cells c ON c.r = r.r
                  AND c.b = ('0x'||substr(md5(r.r::VARCHAR || '_' || top.w),1,8))::BIGINT
                              % 64
                GROUP BY top.w)
        SELECT row_number() OVER (ORDER BY n DESC, top.w) AS rank,
               top.w AS w, n, est, est - n AS overcount
        FROM top JOIN est ON est.w = top.w
        ORDER BY rank""")),

    // ----------------------- weighted priority sampling (bottom-k)
    // Weight-proportional sampling without replacement — the curation
    // op behind "sample documents proportional to length/quality".
    // Priority sampling (Duffield–Lund–Thorup): each item draws a
    // uniform hash u and keeps priority u/weight; the k smallest
    // priorities are the sample, and heavier items win more often in
    // exactly their weight proportion. Here u is the md5 hash of the
    // doc id and the priority is (u·1e6) div n_chars — all integer, so
    // the sample is reproducible across engines, cluster sizes, and
    // reruns (the same property q_scale_mixture/quota rely on). The
    // bottom-k is a TakeOrdered — per-partition top-k then a k-row
    // merge at the driver, never a global sort.
    "q_scale_priority_sample" -> GraftQuery(
      run = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        Tables.documents(s, d)
          .withColumn("h", expr(
            "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"))
          .withColumn("priority", expr("(h * 1000000L) div n_chars"))
          .orderBy(col("priority"), col("doc_id"))
          .limit(20)
          .withColumn("rank", row_number().over(
            Window.orderBy(col("priority"), col("doc_id"))))
          .select("rank", "doc_id", "lang", "n_chars", "priority")
      },
      oracle = Some("""
        SELECT row_number() OVER (ORDER BY priority, doc_id) AS rank,
               doc_id, lang, n_chars, priority
        FROM (SELECT doc_id, lang, n_chars,
                     (('0x'||substr(md5(doc_id::VARCHAR),1,8))::BIGINT
                      * 1000000) // n_chars AS priority
              FROM documents)
        ORDER BY priority, doc_id LIMIT 20""")),

    // --------------------- temporal split with a leakage audit
    // The time-based train/test split every forecasting/recsys corpus
    // needs: events strictly before the cutoff train, the rest test —
    // and the split is AUDITED, not assumed: per event type the query
    // counts the users appearing on both sides (the entity-leakage
    // measure that invalidates a temporal split when per-user signals
    // leak across the boundary). Counts-only shuffles: the user sets
    // reduce to per-(type, user) flags before the side-overlap count.
    "q_scale_time_split" -> GraftQuery(
      run = (s, d) => {
        val cutoffUs = lit(java.sql.Timestamp.valueOf("2000-01-01 00:00:00")
          .getTime * 1000L)
        val ev = Tables.events(s, d)
          .select(col("event_type"), col("user_id"),
            (expr("ts div 1000") < cutoffUs).as("is_train"))
        val perUser = ev.groupBy("event_type", "user_id")
          .agg(max(when(col("is_train"), 1).otherwise(0)).as("in_train"),
            max(when(!col("is_train"), 1).otherwise(0)).as("in_test"))
        val rows = ev.groupBy("event_type")
          .agg(sum(when(col("is_train"), 1L).otherwise(0L)).as("n_train"),
            sum(when(!col("is_train"), 1L).otherwise(0L)).as("n_test"))
        val users = perUser.groupBy("event_type")
          .agg(sum(col("in_train").cast("long")).as("u_train"),
            sum(col("in_test").cast("long")).as("u_test"),
            sum((col("in_train") * col("in_test")).cast("long"))
              .as("u_leaked"))
        rows.join(users, "event_type").orderBy("event_type")
      },
      oracle = Some("""
        WITH ev AS (SELECT event_type, user_id,
                           epoch_us(ts) < epoch_us(TIMESTAMP '2000-01-01')
                             AS is_train
                    FROM events),
        pu AS (SELECT event_type, user_id,
                      max(CASE WHEN is_train THEN 1 ELSE 0 END) AS in_train,
                      max(CASE WHEN is_train THEN 0 ELSE 1 END) AS in_test
               FROM ev GROUP BY 1, 2),
        r AS (SELECT event_type,
                     CAST(sum(CASE WHEN is_train THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_train,
                     CAST(sum(CASE WHEN is_train THEN 0 ELSE 1 END)
                          AS BIGINT) AS n_test
              FROM ev GROUP BY 1),
        u AS (SELECT event_type,
                     CAST(sum(in_train) AS BIGINT) AS u_train,
                     CAST(sum(in_test) AS BIGINT) AS u_test,
                     CAST(sum(in_train * in_test) AS BIGINT) AS u_leaked
              FROM pu GROUP BY 1)
        SELECT r.event_type, n_train, n_test, u_train, u_test, u_leaked
        FROM r JOIN u ON u.event_type = r.event_type
        ORDER BY r.event_type""")),

    // --------------------------- k-anonymity suppression gate (privacy)
    // Before a per-group release, every quasi-identifier cell with
    // fewer than k members is suppressed — the governance gate that
    // keeps "aggregate" outputs from identifying individuals. Quasi
    // identifiers here: nation × a 2000-dollar balance band (the
    // generalization step — raw balances would make every cell unique).
    // The audit reports, per nation, how many cells and rows the k = 5
    // floor suppressed; cells are counted exactly, on integer cents.
    "q_scale_k_anon" -> GraftQuery(
      run = (s, d) => {
        val cells = Tables.customer(s, d)
          .withColumn("band",
            expr("CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) div 200000"))
          .join(broadcast(Tables.nation(s, d)),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy("n_name", "band")
          .agg(count(lit(1)).as("n"))
        cells.groupBy("n_name")
          .agg(count(lit(1)).as("n_cells"),
            sum(when(col("n") < 5, 1L).otherwise(0L)).as("cells_suppressed"),
            sum(when(col("n") >= 5, col("n")).otherwise(0L)).as("rows_released"),
            sum(when(col("n") < 5, col("n")).otherwise(0L)).as("rows_suppressed"))
          .orderBy("n_name")
      },
      oracle = Some("""
        WITH cells AS (
          SELECT n_name,
                 floor(c_acctbal * 100.0 + 0.5)::BIGINT // 200000 AS band,
                 count(*) AS n
          FROM customer JOIN nation ON n_nationkey = c_nationkey
          GROUP BY 1, 2)
        SELECT n_name, count(*) AS n_cells,
               CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
                 AS cells_suppressed,
               CAST(sum(CASE WHEN n >= 5 THEN n ELSE 0 END) AS BIGINT)
                 AS rows_released,
               CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
                 AS rows_suppressed
        FROM cells GROUP BY 1 ORDER BY 1""")),

    // -------------------------------------------------- compaction planning
    // The small-files problem: plan which files coalesce into which
    // target-size output bin — per source, a running-sum window over the
    // file listing assigns each file to bin ⌈cum/target⌉, then the plan
    // is summarized per bin. This is the planning stage of an OPTIMIZE /
    // compaction job: the window partitions by source (parallel across
    // sources, which is how a 100 TB table's listing shards), and only
    // the tiny (source, bin) summary leaves the shuffle. documents plays
    // the file listing with n_chars as the file size.
    "q_scale_compaction" -> GraftQuery(
      run = (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy("doc_id")
          .rowsBetween(Long.MinValue, 0)
        Tables.documents(s, d)
          .select(col("source"), col("doc_id"), col("n_chars"))
          .withColumn("cum", sum(col("n_chars")).over(w))
          .withColumn("bin", expr("(cum - 1) div 4096"))
          .groupBy("source", "bin")
          .agg(count(lit(1)).as("n_files"), sum(col("n_chars")).as("bytes"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"))
          .orderBy("source", "bin")
      },
      oracle = Some("""
        WITH listing AS (
          SELECT source, doc_id, n_chars,
                 sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum
          FROM documents)
        SELECT source, CAST((cum - 1) // 4096 AS BIGINT) AS bin,
               count(*) AS n_files, CAST(sum(n_chars) AS BIGINT) AS bytes,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM listing GROUP BY 1, 2 ORDER BY 1, 2""")),

    // -------------------------------------------------- range partitioning
    // Range-partitioner boundary planning, the way RangePartitioner
    // actually works at scale: boundaries come from a SAMPLE (here an
    // md5-deterministic ~2% of orders — since r12 ranked partition-
    // parallel via ScalableRank, no global sort even over the sample),
    // then every row is assigned its range by a broadcast theta-join
    // against the 15 split points (rng = number of boundaries below
    // the key) and the per-range histogram validates the plan's
    // balance. No full-data sort anywhere.
    "q_scale_range_partition" -> GraftQuery(
      run = (s, d) => {
        val priced = Tables.orders(s, d)
          .select(col("o_orderkey"),
            expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)")
              .as("price_c"))
        // r12 (guide §2.4): the boundary ntile(16) ran as an
        // unpartitioned window (Exchange SinglePartition over the whole
        // sample — still ~2% of orders, data-scale at 100 TB).
        // ScalableRank computes the identical global rank partition-
        // parallel; the 15-row bounds materialize (releasing the rank
        // cache) and broadcast as before.
        val (bounds, caches) = rangeBoundsPlan(s, d)
        val boundsLocal = graft.sparkutil.ScalableRank
          .materializeAndRelease(s, bounds, caches)
        priced
          .join(broadcast(boundsLocal), col("price_c") > col("hi"), "left")
          .groupBy("o_orderkey", "price_c")
          .agg(count(col("hi")).as("rng"))
          .groupBy("rng")
          .agg(count(lit(1)).as("n_rows"), min(col("price_c")).as("lo_c"),
            max(col("price_c")).as("hi_c"))
          .orderBy("rng")
      },
      oracle = Some("""
        WITH priced AS (
          SELECT o_orderkey,
                 floor(o_totalprice * 100.0 + 0.5)::BIGINT AS price_c
          FROM orders),
        sample AS (
          SELECT * FROM priced
          WHERE ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))::BIGINT
                  % 50 = 0),
        tiles AS (
          SELECT price_c,
                 ntile(16) OVER (ORDER BY price_c, o_orderkey) AS tile
          FROM sample),
        bounds AS (SELECT tile, max(price_c) AS hi FROM tiles
                   WHERE tile < 16 GROUP BY tile),
        assigned AS (
          SELECT o_orderkey, price_c,
                 (SELECT count(*) FROM bounds WHERE price_c > hi) AS rng
          FROM priced)
        SELECT rng, count(*) AS n_rows,
               min(price_c) AS lo_c, max(price_c) AS hi_c
        FROM assigned GROUP BY rng ORDER BY rng""")),

    // -------------------------------------------------- KMV distinct sketch
    // K-minimum-values cardinality sketch (the mergeable alternative to
    // HLL with EXACT determinism — md5-derived 60-bit hashes, k = 8
    // smallest per group): est = (k−1)·2⁶⁰ div h₍ₖ₎, all integer. The
    // union sketch merges per-source sketches by taking the 8 smallest
    // of the k·|sources| candidate values — sketch rows, not data rows,
    // cross the final merge, which is why KMV survives a 100 TB
    // GROUP BY: each group ships 8 longs. Exact distinct per group
    // rides along for the error check.
    "q_scale_kmv" -> GraftQuery(
      run = (s, d) => {
        val k = 8
        val h = Tables.documents(s, d)
          .select(col("source"),
            expr("CAST(conv(substr(md5(text), 1, 15), 16, 10) AS BIGINT)")
              .as("h"))
          .distinct()
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy("h")
        def sketch(df: org.apache.spark.sql.DataFrame) = df
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= k)
          .groupBy("source")
          .agg(max(col("h")).as("kth"), count(lit(1)).as("k_actual"))
          .withColumn("est_distinct",
            expr(s"(${k - 1} * 1152921504606846976) div kth"))
        val perSource = sketch(h)
          .join(Tables.documents(s, d).groupBy("source")
              .agg(countDistinct(col("text")).as("exact_distinct")),
            Seq("source"))
        val merged = sketch(h.select(lit("__all__").as("source"), col("h"))
            .distinct())
          .join(Tables.documents(s, d)
              .agg(countDistinct(col("text")).as("exact_distinct"))
              .withColumn("source", lit("__all__")),
            Seq("source"))
        perSource.unionByName(merged)
          .select("source", "kth", "k_actual", "est_distinct",
            "exact_distinct")
          .orderBy("source")
      },
      oracle = Some("""
        WITH h AS (SELECT DISTINCT source,
                          ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
                   FROM documents),
        hall AS (SELECT DISTINCT '__all__' AS source, h FROM h),
        ranked AS (
          SELECT source, h,
                 row_number() OVER (PARTITION BY source ORDER BY h) AS rn
          FROM (SELECT * FROM h UNION ALL SELECT * FROM hall)),
        sk AS (SELECT source, max(h) AS kth, count(*) AS k_actual,
                      CAST((7 * 1152921504606846976) // max(h) AS BIGINT)
                        AS est_distinct
               FROM ranked WHERE rn <= 8 GROUP BY source),
        ex AS (SELECT source, count(DISTINCT text) AS exact_distinct
               FROM documents GROUP BY source
               UNION ALL
               SELECT '__all__', count(DISTINCT text) FROM documents)
        SELECT sk.source, kth, k_actual, est_distinct, exact_distinct
        FROM sk JOIN ex ON ex.source = sk.source
        ORDER BY sk.source""")),

    // ----------------------------------- partition completeness audit
    // Backfill planning: against the expected (event_type × hour)
    // calendar grid spanning the observed range, which cells are
    // MISSING? An ingestion gap (a dead upstream, a dropped batch)
    // shows up as holes a downstream consumer silently averages over.
    // The grid is generated (sequence over integer hour indices — no
    // data shuffled to build it), observed cells reduce to distinct
    // (type, hour) pairs map-side, and the audit reports per type the
    // expected/observed/missing counts and the first hole to backfill.
    // Integer hour indices (epoch_us div 3600e6) on both engines.
    "q_scale_partition_audit" -> GraftQuery(
      run = (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_type"),
            expr("(ts div 1000) div 3600000000").as("h"))
        val bounds = ev.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        val expected = ev.select("event_type").distinct()
          .crossJoin(broadcast(bounds))
          .select(col("event_type"), explode(expr("sequence(h0, h1)")).as("h"))
        val observed = ev.distinct().withColumn("seen", lit(1L))
        expected.join(observed, Seq("event_type", "h"), "left")
          .groupBy("event_type")
          .agg(count(lit(1)).as("expected_hours"),
            sum(coalesce(col("seen"), lit(0L))).as("observed_hours"),
            (count(lit(1)) - sum(coalesce(col("seen"), lit(0L))))
              .as("missing_hours"),
            min(when(col("seen").isNull, col("h")))
              .as("first_missing_hour"))
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH ev AS (SELECT event_type, epoch_us(ts) // 3600000000 AS h
                    FROM events),
        bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM ev),
        expected AS (
          SELECT t.event_type, g.h
          FROM (SELECT DISTINCT event_type FROM ev) t
          CROSS JOIN (SELECT unnest(generate_series(h0, h1)) AS h
                      FROM bounds) g),
        observed AS (SELECT DISTINCT event_type, h, 1 AS seen FROM ev)
        SELECT e.event_type AS event_type,
               CAST(count(*) AS BIGINT) AS expected_hours,
               CAST(sum(coalesce(seen, 0)) AS BIGINT) AS observed_hours,
               CAST(count(*) - sum(coalesce(seen, 0)) AS BIGINT)
                 AS missing_hours,
               min(CASE WHEN seen IS NULL THEN e.h END)
                 AS first_missing_hour
        FROM expected e LEFT JOIN observed o
          ON o.event_type = e.event_type AND o.h = e.h
        GROUP BY e.event_type ORDER BY e.event_type""")),

    // ----------------------------------- token-budget mixture allocator
    // The pretraining data-mix table: given each source's token SUPPLY
    // and a quality-derived mixture WEIGHT, allocate a fixed token
    // budget — target tokens, sampling rate, and epoch count per source
    // (rate > 1e6 ppm ⇔ epochs > 1 ⇔ the source repeats, the
    // LLaMA-style up-sampling of small high-quality sources). Weights
    // here are the count of docs passing a simple quality gate, so the
    // whole allocation is exact integer arithmetic: one aggregate per
    // source + one broadcast total, no second pass over text.
    "q_scale_token_budget" -> GraftQuery(
      run = (s, d) => {
        val budget = 1000000L
        val perSrc = Tables.documents(s, d)
          .select(col("source"),
            expr("size(filter(split(text, ' '), w -> w <> ''))")
              .cast("long").as("toks"),
            col("n_chars"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("toks")).as("avail_tokens"),
            sum(when(col("n_chars") >= 200L && col("toks") >= 30L, 1L)
              .otherwise(0L)).as("weight"))
        val tot = perSrc.agg(sum(col("weight")).as("w_total"))
        perSrc.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"), col("avail_tokens"),
            col("weight"),
            expr(s"($budget * weight) div w_total").as("target_tokens"),
            expr(s"(($budget * weight) div w_total) * 1000000 " +
              "div avail_tokens").as("rate_ppm"),
            expr(s"(($budget * weight) div w_total) * 1000 " +
              "div avail_tokens").as("epochs_milli"))
          .orderBy("source")
      },
      oracle = Some("""
        WITH t AS (
          SELECT source,
                 CAST(len(list_filter(string_split(text, ' '),
                                      w -> w <> '')) AS BIGINT) AS toks,
                 n_chars
          FROM documents),
        per_src AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(toks) AS BIGINT) AS avail_tokens,
                 CAST(sum(CASE WHEN n_chars >= 200 AND toks >= 30
                               THEN 1 ELSE 0 END) AS BIGINT) AS weight
          FROM t GROUP BY source),
        tot AS (SELECT CAST(sum(weight) AS BIGINT) AS w_total FROM per_src)
        SELECT source, n_docs, avail_tokens, weight,
               CAST((1000000 * weight) // w_total AS BIGINT)
                 AS target_tokens,
               CAST(((1000000 * weight) // w_total) * 1000000
                    // avail_tokens AS BIGINT) AS rate_ppm,
               CAST(((1000000 * weight) // w_total) * 1000
                    // avail_tokens AS BIGINT) AS epochs_milli
        FROM per_src CROSS JOIN tot ORDER BY source""")),

    // ----------------------------------- KMV set-operation estimates
    // How much does a new crawl overlap the standing corpus? KMV
    // sketches support set algebra HLL can't do without bias hacks:
    // the k smallest hashes of A ∪ B are a uniform sample of the union,
    // so |A ∩ B| ≈ (overlap-in-sketch / k) · |A ∪ B|, all in exact
    // integer arithmetic (md5-derived 60-bit hashes, same estimator
    // family as q_scale_kmv). Only sketch rows (k longs) cross the
    // merge; membership flags come from broadcast-joining the k-row
    // sketch back against the two sides. The exact intersection rides
    // along for the error check. A = doc_id % 3 ≠ 0 (standing corpus),
    // B = doc_id % 2 = 0 (new crawl) — text-hash identity, so shared
    // content in both slices is the overlap.
    "q_scale_kmv_intersect" -> GraftQuery(
      run = (s, d) => {
        val k = 8
        val hashed = Tables.documents(s, d)
          .select(col("doc_id"),
            expr("CAST(conv(substr(md5(text), 1, 15), 16, 10) AS BIGINT)")
              .as("h"))
        val a = hashed.filter(col("doc_id") % 3 =!= 0).select("h").distinct()
        val b = hashed.filter(col("doc_id") % 2 === 0).select("h").distinct()
        val sketch = a.unionByName(b).distinct().orderBy("h").limit(k)
        val flagged = broadcast(sketch)
          .join(a.withColumn("in_a", lit(1L)), Seq("h"), "left")
          .join(b.withColumn("in_b", lit(1L)), Seq("h"), "left")
          .agg(count(lit(1)).as("k_actual"), max(col("h")).as("kth"),
            sum(coalesce(col("in_a"), lit(0L)) * coalesce(col("in_b"), lit(0L)))
              .as("overlap_k"))
          .withColumn("est_union",
            expr(s"((k_actual - 1) * 1152921504606846976) div kth"))
          .withColumn("est_intersect",
            expr("(overlap_k * est_union) div k_actual"))
        val exact = a.intersect(b).agg(count(lit(1)).as("exact_intersect"))
          .crossJoin(a.unionByName(b).distinct()
            .agg(count(lit(1)).as("exact_union")))
        flagged.crossJoin(exact)
          .select("k_actual", "kth", "overlap_k", "est_union",
            "est_intersect", "exact_union", "exact_intersect")
      },
      oracle = Some("""
        WITH hashed AS (
          SELECT doc_id, ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
          FROM documents),
        a AS (SELECT DISTINCT h FROM hashed WHERE doc_id % 3 <> 0),
        b AS (SELECT DISTINCT h FROM hashed WHERE doc_id % 2 = 0),
        u AS (SELECT DISTINCT h FROM (SELECT h FROM a
                                      UNION ALL SELECT h FROM b)),
        sketch AS (SELECT h FROM u ORDER BY h LIMIT 8),
        flagged AS (
          SELECT CAST(count(*) AS BIGINT) AS k_actual, max(s.h) AS kth,
                 CAST(sum(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL
                               THEN 1 ELSE 0 END) AS BIGINT) AS overlap_k
          FROM sketch s LEFT JOIN a ON a.h = s.h LEFT JOIN b ON b.h = s.h),
        est AS (
          SELECT k_actual, kth, overlap_k,
                 CAST(((k_actual - 1) * 1152921504606846976) // kth
                      AS BIGINT) AS est_union
          FROM flagged),
        ex AS (SELECT (SELECT CAST(count(*) AS BIGINT)
                       FROM a JOIN b ON b.h = a.h) AS exact_intersect,
                      (SELECT CAST(count(*) AS BIGINT) FROM u)
                        AS exact_union)
        SELECT k_actual, kth, overlap_k, est_union,
               CAST((overlap_k * est_union) // k_actual AS BIGINT)
                 AS est_intersect,
               exact_union, exact_intersect
        FROM est CROSS JOIN ex""")),

    // ------------------------------------------- Merkle dataset fingerprint
    // Hierarchical content hash of the corpus — the data-versioning
    // primitive: two copies of a 100 TB dataset are compared by
    // exchanging 16 level-1 hashes and descending ONLY into buckets
    // whose hashes differ, never by moving data. Leaves are md5(text),
    // content-addressed into 256 level-2 buckets by their first two hex
    // chars; each node hashes the concatenation of its children in
    // canonical order (leaves by hash — multiset semantics, insertion-
    // order independent; inner nodes by child bucket id), so the root
    // is a pure function of document CONTENT. Leaf hashing is map-side;
    // the level-2 rollup shuffles 32-byte digests, not documents; the
    // two upper levels reduce ≤256 rows. Production depth grows
    // log_fanout(files) levels with the same per-level shape — the
    // fan-in stays bounded, so no node ever concatenates an unbounded
    // child list.
    "q_scale_merkle" -> GraftQuery(
      run = (s, d) => {
        val leaves = Tables.documents(s, d)
          .select(md5(col("text")).as("leaf"))
          .withColumn("b2", expr("substr(leaf, 1, 2)"))
        val l2 = leaves.groupBy("b2")
          .agg(count(lit(1)).as("n_docs"),
            expr("md5(concat_ws('', sort_array(collect_list(leaf))))")
              .as("hash"))
        val l1 = l2.withColumn("b1", expr("substr(b2, 1, 1)"))
          .groupBy("b1")
          .agg(sum(col("n_docs")).as("n_docs"),
            expr("""md5(concat_ws('', transform(
                      sort_array(collect_list(struct(b2, hash))),
                      x -> x.hash)))""").as("hash"))
        val root = l1
          .agg(sum(col("n_docs")).as("n_docs"),
            expr("""md5(concat_ws('', transform(
                      sort_array(collect_list(struct(b1, hash))),
                      x -> x.hash)))""").as("hash"))
          .select(lit(0).as("level"), lit("root").as("node"),
            col("n_docs"), col("hash"))
        root
          .unionByName(l1.select(lit(1).as("level"), col("b1").as("node"),
            col("n_docs"), col("hash")))
          .unionByName(l2.select(lit(2).as("level"), col("b2").as("node"),
            col("n_docs"), col("hash")))
          .orderBy("level", "node")
      },
      oracle = Some("""
        WITH leaves AS (
          SELECT md5(text) AS leaf, substr(md5(text), 1, 2) AS b2
          FROM documents),
        l2 AS (SELECT b2, count(*) AS n_docs,
                      md5(string_agg(leaf, '' ORDER BY leaf)) AS hash
               FROM leaves GROUP BY b2),
        l1 AS (SELECT substr(b2, 1, 1) AS b1, sum(n_docs) AS n_docs,
                      md5(string_agg(hash, '' ORDER BY b2)) AS hash
               FROM l2 GROUP BY 1),
        root AS (SELECT sum(n_docs) AS n_docs,
                        md5(string_agg(hash, '' ORDER BY b1)) AS hash
                 FROM l1)
        SELECT 0 AS level, 'root' AS node, CAST(n_docs AS BIGINT) AS n_docs,
               hash FROM root
        UNION ALL
        SELECT 1, b1, CAST(n_docs AS BIGINT), hash FROM l1
        UNION ALL
        SELECT 2, b2, CAST(n_docs AS BIGINT), hash FROM l2
        ORDER BY level, node""")),

    // ------------------------------------------------ Bloom semi-join filter
    // Semi-join reduction via a compact broadcast Bloom filter — the
    // pattern that turns "shuffle 100 TB of fact rows to probe a
    // selective dimension" into "drop most of them map-side first": the
    // dimension's keys (NATION_3 customers) hash twice (md5-derived,
    // 1024-bit filter) into an 18-word bitset built with one bit_or
    // aggregate; the fact side tests both bits against the broadcast
    // bitset BEFORE any shuffle, and only survivors reach the exact
    // semi join. Bits stay below 2⁶⁰ (word = pos div 60) so no engine
    // touches the sign bit. The query reports the funnel — total,
    // bloom-pass, exact-match, false positives in ppm — because a
    // filter you don't measure is a filter you can't size.
    "q_scale_bloom_join" -> GraftQuery(
      run = (s, d) => {
        def h(col0: String, tag: String) =
          expr(s"CAST(conv(substr(md5(concat(CAST($col0 AS STRING), " +
            s"'_$tag')), 1, 8), 16, 10) AS BIGINT) % 1024")
        val dimKeys = Tables.customer(s, d)
          .filter(col("c_nationkey") === 3).select(col("c_custkey"))
        val bits = dimKeys
          .select(explode(array(h("c_custkey", "a"), h("c_custkey", "b")))
            .as("pos"))
          .select(expr("pos div 60").as("word"),
            expr("CAST(1 AS BIGINT) << CAST(pos % 60 AS INT)").as("mask"))
          .groupBy("word").agg(expr("bit_or(mask)").as("bset"))
        // both hash tests stay on the SAME fact row (no explode → no
        // regroup): two broadcast left joins against the 18-word bitset,
        // so the bloom test is genuinely map-side — zero fact shuffles
        // before the survivors' counts
        val b1 = bits.select(col("word").as("w1"), col("bset").as("s1"))
        val b2 = bits.select(col("word").as("w2"), col("bset").as("s2"))
        val passed = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"),
            h("o_custkey", "a").as("pa"), h("o_custkey", "b").as("pb"))
          .join(broadcast(b1), expr("pa div 60") === col("w1"), "left")
          .join(broadcast(b2), expr("pb div 60") === col("w2"), "left")
          .filter(
            expr("coalesce(s1, CAST(0 AS BIGINT)) & " +
              "(CAST(1 AS BIGINT) << CAST(pa % 60 AS INT))") =!= 0L &&
            expr("coalesce(s2, CAST(0 AS BIGINT)) & " +
              "(CAST(1 AS BIGINT) << CAST(pb % 60 AS INT))") =!= 0L)
          .select("o_orderkey", "o_custkey")
        val exact = passed
          .join(broadcast(dimKeys), col("o_custkey") === col("c_custkey"),
            "left_semi")
        val total = Tables.orders(s, d).agg(count(lit(1)).as("total_orders"))
        val np = passed.agg(count(lit(1)).as("bloom_pass"))
        val ne = exact.agg(count(lit(1)).as("exact_match"))
        total.crossJoin(np).crossJoin(ne)
          .select(col("total_orders"), col("bloom_pass"), col("exact_match"),
            expr("((bloom_pass - exact_match) * 1000000) div bloom_pass")
              .as("fp_ppm"))
      },
      oracle = Some("""
        WITH dim AS (SELECT c_custkey FROM customer WHERE c_nationkey = 3),
        hs AS (SELECT c_custkey,
                      ('0x' || substr(md5(c_custkey::VARCHAR || '_a'), 1, 8))
                        ::BIGINT % 1024 AS pa,
                      ('0x' || substr(md5(c_custkey::VARCHAR || '_b'), 1, 8))
                        ::BIGINT % 1024 AS pb
               FROM dim),
        pos AS (SELECT pa AS pos FROM hs UNION ALL SELECT pb FROM hs),
        bits AS (SELECT pos // 60 AS word,
                        bit_or(1::BIGINT << CAST(pos % 60 AS INTEGER))
                          AS bset
                 FROM pos GROUP BY 1),
        probes AS (
          SELECT o_orderkey, o_custkey, pos
          FROM (SELECT o_orderkey, o_custkey,
                       ('0x' || substr(md5(o_custkey::VARCHAR || '_a'), 1, 8))
                         ::BIGINT % 1024 AS pa,
                       ('0x' || substr(md5(o_custkey::VARCHAR || '_b'), 1, 8))
                         ::BIGINT % 1024 AS pb
                FROM orders) o,
               LATERAL (SELECT unnest([o.pa, o.pb]) AS pos) u),
        passed AS (
          SELECT o_orderkey, o_custkey
          FROM (SELECT p.o_orderkey, p.o_custkey,
                       CASE WHEN coalesce(b.bset, 0::BIGINT) &
                                 (1::BIGINT << CAST(p.pos % 60 AS INTEGER))
                                 <> 0 THEN 1 ELSE 0 END AS hit
                FROM probes p
                LEFT JOIN bits b ON b.word = p.pos // 60) t
          GROUP BY 1, 2 HAVING sum(hit) = 2),
        ex AS (SELECT count(*) AS exact_match FROM passed
               WHERE o_custkey IN (SELECT c_custkey FROM dim)),
        np AS (SELECT count(*) AS bloom_pass FROM passed),
        tot AS (SELECT count(*) AS total_orders FROM orders)
        SELECT total_orders, bloom_pass, exact_match,
               CAST(((bloom_pass - exact_match) * 1000000) // bloom_pass
                    AS BIGINT) AS fp_ppm
        FROM tot, np, ex""")),

    // --------------------------------------------- dynamic partition pruning
    // DPP: the fact is laid out partitioned on the join key and the
    // dimension's qualifying keys are only known at RUNTIME (an
    // aggregate decides them), so static pruning can't help — Spark
    // instead injects a dynamicpruningexpression subquery into the fact
    // scan's PartitionFilters and reads only the partitions the dim
    // survived. At 100 TB this is the difference between scanning every
    // date/type partition and scanning three. The plan guard pins the
    // dynamic filter's presence; the "odd total count" dim predicate is
    // arbitrary but deterministic, and NOT constant-foldable.
    "q_scale_dpp" -> GraftQuery(
      run = (s, d) => {
        val layout =
          graft.StoreBuilds.scratchDir(s, d, "graft-dpp") + "/layout"
        val fact = layOut(s, Tables.events(s, d)
          .select(col("event_id"), col("event_type"), col("value")),
          "event_type", layout)
        val dim = Tables.events(s, d)
          .groupBy(col("event_type").as("dt"))
          .agg(count(lit(1)).as("n_dim"))
          .filter(expr("n_dim % 2 = 1"))
        fact
          .join(broadcast(dim), col("event_type") === col("dt"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(expr("CAST(floor(value * 10000.0 + 0.5) AS BIGINT)"))
              .as("sum_value_e4"))
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH dim AS (SELECT event_type AS dt, count(*) AS n_dim
                     FROM events GROUP BY 1 HAVING count(*) % 2 = 1)
        SELECT event_type, count(*) AS n,
               CAST(sum(floor(value * 10000.0 + 0.5)::BIGINT) AS BIGINT)
                 AS sum_value_e4
        FROM events JOIN dim ON dt = event_type
        GROUP BY event_type ORDER BY event_type""")),

    // ------------------------------- temperature-scaled source mixture
    // The multilingual/multi-source rebalancing rule (exponent-smoothed
    // sampling, p_i ∝ (n_i/N)^(1/T)): big sources are down-weighted,
    // small ones up-weighted, T→∞ flattens to uniform. T = 2 makes the
    // scaling a SQUARE ROOT — chosen deliberately: IEEE-754 requires
    // sqrt to be correctly rounded, so (unlike pow, which may differ by
    // an ulp between libm and the JVM) both engines compute the
    // bit-identical weight, and everything after floor() is exact
    // integer arithmetic. The per-source aggregate is 5 rows; the
    // allocation join is a broadcast of 1 row — at 100 TB the only full
    // pass is the map-side token count.
    "q_scale_temperature_mix" -> GraftQuery(
      run = (s, d) => {
        val budget = 1000000L
        val perSrc = Tables.documents(s, d)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_tokens"))
          .withColumn("w",
            expr("CAST(floor(sqrt(CAST(n_tokens AS DOUBLE) * 1000000.0)) " +
              "AS BIGINT)"))
        val tot = perSrc.agg(sum(col("w")).as("w_total"),
          sum(col("n_tokens")).as("tok_total"))
        perSrc.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            expr("n_tokens * 1000000 div tok_total").as("natural_ppm"),
            expr("w * 1000000 div w_total").as("temp_ppm"),
            expr(s"($budget * w) div w_total").as("target_tokens"))
          .orderBy("source")
      },
      oracle = Some("""
        WITH per_src AS (
          SELECT source, count(*) AS n_docs,
                 CAST(sum(n_chars) AS BIGINT) AS n_tokens,
                 CAST(floor(sqrt(CAST(sum(n_chars) AS DOUBLE) * 1000000.0))
                      AS BIGINT) AS w
          FROM documents GROUP BY source),
        tot AS (SELECT CAST(sum(w) AS BIGINT) AS w_total,
                       CAST(sum(n_tokens) AS BIGINT) AS tok_total
                FROM per_src)
        SELECT source, n_docs, n_tokens,
               CAST(n_tokens * 1000000 // tok_total AS BIGINT) AS natural_ppm,
               CAST(w * 1000000 // w_total AS BIGINT) AS temp_ppm,
               CAST((1000000 * w) // w_total AS BIGINT) AS target_tokens
        FROM per_src CROSS JOIN tot ORDER BY source""")),

    // --------------------------------- late-data audit (batch watermark)
    // Replays the streaming watermark rule over an at-rest event log —
    // the backfill-side audit of "how much data would a watermark of D
    // have dropped": an event is late iff its event time is older than
    // (max event time seen so far in arrival order) − D. The generator
    // emits events in time order, so out-of-order delivery is simulated
    // by a deterministic md5 jitter: arrival = event time + 0–5 min of
    // hash(event_id) — the replay order every engine agrees on, with a
    // 2-min watermark late-dropping a realistic minority. The naive
    // plan is max(ts) OVER (ORDER BY arrival) — an UNPARTITIONED
    // window, i.e. a single-reducer global sort. The scale shape used
    // here decomposes the prefix maximum: arrival keys split into
    // epoch-DAY buckets (constant width, data-independent — exactly
    // the daily partition an event log lands in at rest); the running
    // max within each bucket is a bucket-partitioned window (parallel,
    // bounded sort); the carry-in from earlier buckets is an exclusive
    // prefix-max over the per-day aggregate (rows = #days, tiny),
    // broadcast back. wm(row) = max(carry_in(day),
    // running_max_in_day) − D. One hash shuffle by day instead of a
    // global sort; every day streams independently. The oracle IS the
    // naive window.
    "q_scale_late_data" -> GraftQuery(
      run = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val delayUs = 120000000L // 2-minute watermark, µs
        val ev = Tables.events(s, d)
          .select(col("event_id"), col("event_type"),
            expr("ts div 1000").as("us"))
          .withColumn("arr",
            col("us") + expr(
              "CAST(conv(substr(md5(CAST(event_id AS STRING)), 1, 8), " +
                "16, 10) AS BIGINT) % 300000000"))
          .withColumn("bucket", expr("arr div 86400000000"))
        // 32-row aggregate → exclusive prefix max (window over 32 rows)
        val pfx = ev.groupBy("bucket").agg(max("us").as("bmax"))
          .withColumn("carry_in",
            coalesce(
              max(col("bmax")).over(Window.orderBy("bucket")
                .rowsBetween(Window.unboundedPreceding, -1)),
              lit(0L)))
          .select("bucket", "carry_in")
        val w = Window.partitionBy("bucket").orderBy("arr", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ev.join(broadcast(pfx), Seq("bucket"))
          .withColumn("wm",
            greatest(max(col("us")).over(w), col("carry_in")) - delayUs)
          .withColumn("late", (col("us") < col("wm")).cast("long"))
          .withColumn("late_ms",
            when(col("us") < col("wm"),
              expr("(wm - us) div 1000")).otherwise(0L))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"), sum(col("late")).as("n_late"),
            max(col("late_ms")).as("max_lateness_ms"),
            expr("sum(late) * 1000000 div count(1)").as("late_ppm"))
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH a AS (
          SELECT event_type, epoch_us(ts) AS us, event_id,
                 epoch_us(ts)
                   + ('0x' || substr(md5(event_id::VARCHAR), 1, 8))::BIGINT
                     % 300000000 AS arr
          FROM events),
        w AS (
          SELECT event_type,
                 CASE WHEN us <
                        max(us) OVER (ORDER BY arr, event_id
                          ROWS UNBOUNDED PRECEDING) - 120000000
                      THEN 1 ELSE 0 END AS late,
                 greatest(max(us) OVER (ORDER BY arr, event_id
                            ROWS UNBOUNDED PRECEDING)
                          - 120000000 - us, 0) // 1000 AS late_ms
          FROM a)
        SELECT event_type, count(*) AS n_events,
               CAST(sum(late) AS BIGINT) AS n_late,
               CAST(max(CASE WHEN late = 1 THEN late_ms ELSE 0 END)
                    AS BIGINT) AS max_lateness_ms,
               CAST(sum(late) * 1000000 // count(*) AS BIGINT) AS late_ppm
        FROM w GROUP BY event_type ORDER BY event_type""")),

    // ------------------------------------ training shard manifest
    // The last step before a corpus ships to trainers: assign every doc
    // to one of 64 shards by content-independent hash (so shard load is
    // uniform by construction — no salting needed), and emit the
    // manifest a training job validates against: per-shard doc/token
    // counts, a load share, and an ORDER-INDEPENDENT integrity digest
    // (bit_xor of per-doc 60-bit content hashes — commutative, so the
    // digest is stable under any partitioning/arrival order, the same
    // property the Merkle op uses). One map-side hash pass + one
    // 64-group aggregate; a re-run after any repartition reproduces
    // the digests bit-for-bit, which is exactly how shard corruption
    // or silent doc loss is caught at 100 TB.
    "q_scale_shard_manifest" -> GraftQuery(
      run = (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars"),
            expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), " +
              "16, 10) AS BIGINT) % 64").as("shard"),
            expr("CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), " +
              "':', CAST(n_chars AS STRING))), 1, 15), 16, 10) AS BIGINT)")
              .as("doc_hash"))
        val perShard = docs.groupBy("shard")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_tokens"),
            sum(when(col("n_chars") >= 200L, 1L).otherwise(0L))
              .as("n_quality"),
            min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"),
            expr("bit_xor(doc_hash)").as("digest"))
        val tot = perShard.agg(sum(col("n_docs")).as("total_docs"))
        perShard.crossJoin(broadcast(tot))
          .select(col("shard"), col("n_docs"),
            expr("n_docs * 1000000 div total_docs").as("load_ppm"),
            col("n_tokens"), col("n_quality"), col("min_doc"),
            col("max_doc"), col("digest"))
          .orderBy("shard")
      },
      oracle = Some("""
        WITH h AS (
          SELECT doc_id, n_chars,
                 ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 64
                   AS shard,
                 ('0x' || substr(md5(doc_id::VARCHAR || ':'
                                 || n_chars::VARCHAR), 1, 15))::BIGINT
                   AS doc_hash
          FROM documents),
        per AS (
          SELECT shard, count(*) AS n_docs,
                 CAST(sum(n_chars) AS BIGINT) AS n_tokens,
                 CAST(sum(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_quality,
                 CAST(min(doc_id) AS BIGINT) AS min_doc,
                 CAST(max(doc_id) AS BIGINT) AS max_doc,
                 CAST(bit_xor(doc_hash) AS BIGINT) AS digest
          FROM h GROUP BY shard),
        tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs FROM per)
        SELECT shard, n_docs,
               CAST(n_docs * 1000000 // total_docs AS BIGINT) AS load_ppm,
               n_tokens, n_quality, min_doc, max_doc, digest
        FROM per CROSS JOIN tot ORDER BY shard""")),

    // ------------------- weight-proportional systematic sampling (PPS)
    // Probability-proportional-to-size sampling without RNG: lay the
    // corpus on a weight axis (weight = token count), drop ~100 evenly
    // spaced sample points (stride = W div 100), and a document is
    // drawn once per point inside its [cum−w, cum) interval —
    // multiplicity ⌈cum/step⌉ − ⌈prev/step⌉ in exact integers (all
    // operands non-negative, so Spark's trunc-div and DuckDB's
    // floor-div agree). Long documents can be drawn multiple times,
    // which is precisely PPS-with-replacement semantics.
    // Scale shape: the prefix sum is the textbook two-pass distributed
    // scan, NOT one global window — bucket-local cumulative sums
    // (window partitioned BY bucket) plus a bucket-offset table whose
    // global window runs over n_buckets rows (~n_docs/64; at 100 TB,
    // range-partition ids and this is the per-partition-offset scan
    // every distributed cumsum uses). Offsets broadcast back; stride
    // is a 1-row broadcast aggregate. Identical output to the naive
    // global-window formulation — which is what the oracle runs.
    "q_scale_systematic_sample" -> GraftQuery(
      run = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val t = Tables.documents(s, d)
          .select(col("doc_id"),
            size(filter(split(col("text"), " "), w => w =!= ""))
              .cast("long").as("w"))
          .filter(col("w") > 0)
          .withColumn("b", expr("doc_id div 64"))
        val wB = Window.partitionBy("b").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val local = t.withColumn("cum_in", sum(col("w")).over(wB))
        val wOff = Window.orderBy("b")
          .rowsBetween(Window.unboundedPreceding, -1)
        val off = t.groupBy("b").agg(sum(col("w")).as("bw"))
          .withColumn("off", coalesce(sum(col("bw")).over(wOff), lit(0L)))
          .select("b", "off")
        val stride = t.agg(
          greatest(expr("sum(w) div 100"), lit(1L)).as("step"))
        local.join(broadcast(off), "b")
          .withColumn("cum", col("cum_in") + col("off"))
          .crossJoin(broadcast(stride))
          .withColumn("n_hits",
            expr("((cum + step - 1) div step)" +
              " - ((cum - w + step - 1) div step)"))
          .filter(col("n_hits") > 0)
          .select(col("doc_id"), col("w"), col("cum"), col("n_hits"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH t0 AS (
          SELECT doc_id,
                 CAST(len(list_filter(string_split(text, ' '),
                                      w -> w <> '')) AS BIGINT) AS w
          FROM documents),
        t AS (SELECT * FROM t0 WHERE w > 0),
        c AS (SELECT doc_id, w,
                     CAST(sum(w) OVER (ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
              FROM t),
        s AS (SELECT greatest(CAST(sum(w) AS BIGINT) // 100, 1) AS step
              FROM t)
        SELECT doc_id, w, cum,
               ((cum + step - 1) // step)
                 - ((cum - w + step - 1) // step) AS n_hits
        FROM c CROSS JOIN s
        WHERE ((cum + step - 1) // step)
                - ((cum - w + step - 1) // step) > 0
        ORDER BY doc_id""")),

    // ---------------------- quality-annealed curriculum schedule
    // The multi-epoch data schedule: documents band by a quality proxy
    // (low/mid/high on n_chars), and a per-(epoch, band) repeat-weight
    // matrix encodes the anneal — epoch 1 sees everything once, epoch
    // 2 upweights mid+high, epoch 3 drops low entirely and replays
    // high 3× (the "finish on your best data" recipe). The schedule
    // is nine literal rows broadcast against the per-band aggregate,
    // so the corpus is scanned ONCE for all epochs; emitted volumes
    // are count·weight arithmetic, and each epoch's mixture shares
    // are ppm integers off a 1-row-per-epoch broadcast total. At
    // 100 TB this whole query reads band-level statistics — the
    // expensive pass is the one banding scan.
    "q_scale_curriculum" -> GraftQuery(
      run = (s, d) => {
        import s.implicits._
        val bands = Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars"),
            when(col("n_chars") >= 400, "high")
              .when(col("n_chars") >= 150, "mid")
              .otherwise("low").as("band"))
          .groupBy("band")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("n_tokens"))
        val schedule = Seq(
          (1, "low", 1L), (1, "mid", 1L), (1, "high", 1L),
          (2, "low", 1L), (2, "mid", 2L), (2, "high", 2L),
          (3, "low", 0L), (3, "mid", 1L), (3, "high", 3L))
          .toDF("epoch", "band", "w")
        val emitted = bands.join(broadcast(schedule), "band")
          .filter(col("w") > 0)
          .select(col("epoch"), col("band"),
            col("n_docs"), col("w"),
            (col("n_docs") * col("w")).as("emitted_docs"),
            (col("n_tokens") * col("w")).as("emitted_tokens"))
        val totals = emitted.groupBy("epoch")
          .agg(sum(col("emitted_tokens")).as("epoch_tokens"))
        emitted.join(broadcast(totals), "epoch")
          .select(col("epoch"), col("band"), col("n_docs"), col("w"),
            col("emitted_docs"), col("emitted_tokens"),
            expr("emitted_tokens * 1000000 div epoch_tokens")
              .as("share_ppm"))
          .orderBy("epoch", "band")
      },
      oracle = Some("""
        WITH bands AS (
          SELECT CASE WHEN n_chars >= 400 THEN 'high'
                      WHEN n_chars >= 150 THEN 'mid'
                      ELSE 'low' END AS band,
                 count(*) AS n_docs,
                 CAST(sum(n_chars) AS BIGINT) AS n_tokens
          FROM documents GROUP BY 1),
        sched(epoch, band, w) AS (VALUES
          (1, 'low', CAST(1 AS BIGINT)), (1, 'mid', 1), (1, 'high', 1),
          (2, 'low', 1), (2, 'mid', 2), (2, 'high', 2),
          (3, 'low', 0), (3, 'mid', 1), (3, 'high', 3)),
        emitted AS (
          SELECT epoch, bands.band, n_docs, w,
                 n_docs * w AS emitted_docs,
                 n_tokens * w AS emitted_tokens
          FROM bands JOIN sched ON sched.band = bands.band
          WHERE w > 0),
        totals AS (
          SELECT epoch, CAST(sum(emitted_tokens) AS BIGINT)
                   AS epoch_tokens
          FROM emitted GROUP BY 1)
        SELECT e.epoch, band, n_docs, w, emitted_docs, emitted_tokens,
               emitted_tokens * 1000000 // epoch_tokens AS share_ppm
        FROM emitted e JOIN totals t ON t.epoch = e.epoch
        ORDER BY e.epoch, band""")),

    // ------------------- rendezvous (HRW) sharding + resize-churn audit
    // Consistent shard assignment, the property range partitioning and
    // mod-N hashing both lack: each doc hashes once PER SHARD
    // (md5(doc_id || ':' || shard)) and lands on the argmax — so
    // growing the fleet 8 → 9 shards moves ONLY the docs whose new
    // max is the new shard (~1/9 of the corpus), instead of
    // reshuffling ~8/9 the way (doc_id % N) does. Output per original
    // shard: doc count, docs that move under the resize, and churn in
    // ppm — the audit that proves a shard-fleet resize won't trigger
    // a full 100 TB rewrite. Everything is md5-integer arithmetic
    // (argmax by (hash, shard) struct: total order, engine-identical);
    // the per-doc work is a map-side 9-element array scan, and only
    // the 8-row (shard, counts) aggregate shuffles. No join, no
    // window, no state: the assignment IS a pure function of doc_id.
    "q_scale_rendezvous" -> GraftQuery(
      run = (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"),
            expr(hrwShardSql(8)).as("shard"),
            expr(hrwShardSql(9)).as("shard9"))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("shard9") =!= col("shard"), 1L).otherwise(0L))
              .as("n_moved"))
          .select(col("shard"), col("n_docs"), col("n_moved"),
            expr("n_moved * 1000000 div n_docs").as("churn_ppm"))
          .orderBy("shard"),
      oracle = Some(s"""
        WITH ${hrwHashCte(9)},
        a AS (
          -- hv*16 + sh: same total order as (hv, sh) since sh < 16,
          -- and DuckDB's max_by takes a scalar ordering key
          SELECT doc_id,
                 CAST(max_by(sh, hv * 16 + sh) FILTER (WHERE sh < 8)
                   AS INT) AS shard,
                 CAST(max_by(sh, hv * 16 + sh) AS INT) AS shard9
          FROM hrw GROUP BY doc_id),
        g AS (
          SELECT shard, count(*) AS n_docs,
                 CAST(sum(CASE WHEN shard9 <> shard THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_moved
          FROM a GROUP BY 1)
        SELECT shard, n_docs, n_moved,
               n_moved * 1000000 // n_docs AS churn_ppm
        FROM g ORDER BY shard""")),

    // --------------- group-aware split + train/test leakage audit
    // The GroupKFold lesson applied to corpus splits: hashing DOCS into
    // train/valid/test lets near-duplicates (re-crawls of one page)
    // straddle the boundary and leak training text into eval. Group =
    // the lead-64-char digest (the re-crawl key — the corpus'
    // shared-prefix docs are exactly such re-crawls); the audit
    // contrasts a doc-hash split against a group-hash split on the
    // same 80/10/10 grid: per scheme, split sizes, groups that span
    // >1 split, and the exact count of intra-group pairs straddling
    // splits — (n² − Σ nₛ²)/2 per group, always even ÷ 2, so the
    // leakage metric is integer-exact. The group scheme lands at 0/0
    // BY CONSTRUCTION, which is the point: assignment is a pure
    // per-row hash either way (no join), and the audit is two hash
    // aggregates — group-keyed then scheme-keyed — carrying counts,
    // never text. At 100 TB that is one shuffle of (scheme, group)
    // count rows, each a few integers.
    "q_scale_group_split" -> GraftQuery(
      run = (s, d) => {
        def splitOf(key: String): org.apache.spark.sql.Column =
          expr(s"CASE WHEN CAST(conv(substr(md5($key), 1, 8), 16, 10) " +
            "AS BIGINT) % 10 < 8 THEN 'train' WHEN CAST(conv(substr(" +
            s"md5($key), 1, 8), 16, 10) AS BIGINT) % 10 = 8 " +
            "THEN 'valid' ELSE 'test' END")
        val base = Tables.documents(s, d)
          .select(col("doc_id"),
            md5(substring(col("text"), 1, 64)).as("g"))
          .withColumn("s_doc", splitOf("CAST(doc_id AS STRING)"))
          .withColumn("s_grp", splitOf("g"))
        val long = base.select(lit("by_doc").as("scheme"), col("g"),
            col("s_doc").as("split"))
          .unionByName(base.select(lit("by_group").as("scheme"), col("g"),
            col("s_grp").as("split")))
        val perSplit = long.groupBy("scheme", "g", "split")
          .agg(count(lit(1)).as("n"))
        perSplit.groupBy("scheme", "g")
          .agg(sum(col("n")).as("n_tot"),
            sum(col("n") * col("n")).as("sq"),
            count(lit(1)).as("n_splits"),
            sum(when(col("split") === "train", col("n")).otherwise(0L))
              .as("n_train"),
            sum(when(col("split") === "valid", col("n")).otherwise(0L))
              .as("n_valid"),
            sum(when(col("split") === "test", col("n")).otherwise(0L))
              .as("n_test"))
          .groupBy("scheme")
          .agg(sum(col("n_train")).as("n_train"),
            sum(col("n_valid")).as("n_valid"),
            sum(col("n_test")).as("n_test"),
            sum(when(col("n_splits") > 1, 1L).otherwise(0L))
              .as("split_groups"),
            expr("sum((n_tot * n_tot - sq) div 2)").as("leaked_pairs"))
          .orderBy("scheme")
      },
      oracle = Some("""
        WITH base AS (
          SELECT doc_id, md5(substr(text, 1, 64)) AS g FROM documents),
        sp AS (
          SELECT doc_id, g,
                 CASE WHEN ('0x'||substr(md5(doc_id::VARCHAR),1,8))::BIGINT
                        % 10 < 8 THEN 'train'
                      WHEN ('0x'||substr(md5(doc_id::VARCHAR),1,8))::BIGINT
                        % 10 = 8 THEN 'valid' ELSE 'test' END AS s_doc,
                 CASE WHEN ('0x'||substr(md5(g),1,8))::BIGINT
                        % 10 < 8 THEN 'train'
                      WHEN ('0x'||substr(md5(g),1,8))::BIGINT
                        % 10 = 8 THEN 'valid' ELSE 'test' END AS s_grp
          FROM base),
        lng AS (
          SELECT 'by_doc' AS scheme, g, s_doc AS split FROM sp
          UNION ALL SELECT 'by_group', g, s_grp FROM sp),
        per AS (
          SELECT scheme, g, split, count(*) AS n
          FROM lng GROUP BY 1, 2, 3),
        grp AS (
          SELECT scheme, g, sum(n) AS n_tot, sum(n*n) AS sq,
                 count(*) AS n_splits,
                 sum(CASE WHEN split = 'train' THEN n ELSE 0 END)
                   AS n_train,
                 sum(CASE WHEN split = 'valid' THEN n ELSE 0 END)
                   AS n_valid,
                 sum(CASE WHEN split = 'test' THEN n ELSE 0 END) AS n_test
          FROM per GROUP BY 1, 2)
        SELECT scheme,
               CAST(sum(n_train) AS BIGINT) AS n_train,
               CAST(sum(n_valid) AS BIGINT) AS n_valid,
               CAST(sum(n_test) AS BIGINT) AS n_test,
               CAST(sum(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS split_groups,
               CAST(sum((n_tot*n_tot - sq) // 2) AS BIGINT)
                 AS leaked_pairs
        FROM grp GROUP BY scheme ORDER BY scheme""")),

    // ------------------- stratified k-fold split (distributed rank)
    // Exact per-stratum fold balance — the property a plain hash-mod
    // split does NOT give (hash-mod is only proportional in
    // expectation; eval variance on small strata comes straight from
    // that wobble). fold = (rank within stratum − 1) mod 5, ranked by
    // a decorrelated per-doc hash, so every (lang, fold) cell is
    // within 1 doc of every other fold in its stratum BY CONSTRUCTION.
    // The rank itself uses the two-pass distributed-rank pattern
    // rather than one giant per-stratum window: pass 1 counts per
    // (stratum, hash-prefix bucket); pass 2 broadcasts the per-bucket
    // prefix offsets and ranks WITHIN (stratum, bucket) partitions —
    // because the bucket is a prefix of the sort key, offset +
    // in-bucket rank IS the global stratum rank. No stratum ever has
    // to fit in one task (the window partitions are 1/16th strata;
    // widen the prefix for more), which is what makes exact k-fold
    // assignment feasible when one language is 80% of a 100 TB corpus.
    "q_scale_stratified_split" -> GraftQuery(
      run = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val base = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("n_chars"),
            md5(concat(lit("fold_"), col("doc_id").cast("string")))
              .as("h"))
          .withColumn("b", substring(col("h"), 1, 1))
        val offsets = base.groupBy("lang", "b")
          .agg(count(lit(1)).as("cnt"))
          .withColumn("off", coalesce(
            sum("cnt").over(Window.partitionBy("lang").orderBy("b")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select("lang", "b", "off")
        base.join(broadcast(offsets), Seq("lang", "b"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("lang", "b").orderBy("h", "doc_id")))
          .withColumn("fold", (col("off") + col("rn") - 1) % 5)
          .groupBy("fold", "lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("n_chars"))
          .orderBy("fold", "lang")
      },
      oracle = Some("""
        WITH b AS (
          SELECT doc_id, lang, n_chars,
                 md5('fold_' || doc_id::VARCHAR) AS h
          FROM documents),
        r AS (
          SELECT lang, n_chars,
                 row_number() OVER (PARTITION BY lang
                                    ORDER BY h, doc_id) AS rn
          FROM b)
        SELECT CAST((rn - 1) % 5 AS BIGINT) AS fold, lang,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS n_chars
        FROM r GROUP BY 1, 2 ORDER BY fold, lang""")),

    // ----------------- right-to-be-forgotten delete-cost audit (GDPR)
    // Before executing a deletion batch at 100 TB you want its WRITE
    // BILL: which shards must rewrite, and at what amplification
    // (docs rewritten per doc deleted — immutable storage rewrites a
    // whole shard to drop one row). Deletion set = doc_id ≡ 0 mod 131
    // (a deterministic stand-in for the request list); shards are the
    // SAME rendezvous layout as q_scale_rendezvous (shared
    // [[hrwShardSql]]), so the audit prices the layout the engine
    // actually ships. Per shard: docs, deletions, chars going away,
    // the rewrite flag, and amplification in ppm; one map-side
    // projection into an 8-row aggregate — the audit costs one scan
    // regardless of corpus size, which is the point of running it
    // BEFORE the rewrite.
    "q_scale_gdpr_delete" -> GraftQuery(
      run = (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars"),
            expr(hrwShardSql(8)).as("shard"),
            (col("doc_id") % 131 === 0).cast("long").as("del"))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("del")).as("n_deleted"),
            sum(col("n_chars") * col("del")).as("chars_deleted"))
          .select(col("shard"), col("n_docs"), col("n_deleted"),
            col("chars_deleted"),
            (col("n_deleted") > 0L).cast("long").as("must_rewrite"),
            when(col("n_deleted") > 0L,
              expr("n_docs * 1000000 div n_deleted")).otherwise(0L)
              .as("amplification_ppm"))
          .orderBy("shard"),
      oracle = Some(s"""
        WITH ${hrwHashCte(8)},
        a AS (
          SELECT doc_id,
                 CAST(max_by(sh, hv * 16 + sh) AS INT) AS shard
          FROM hrw GROUP BY doc_id),
        j AS (
          SELECT a.shard, d.n_chars,
                 CASE WHEN d.doc_id % 131 = 0 THEN 1 ELSE 0 END AS del
          FROM a JOIN documents d ON d.doc_id = a.doc_id),
        g AS (
          SELECT shard, count(*) AS n_docs,
                 CAST(sum(del) AS BIGINT) AS n_deleted,
                 CAST(sum(n_chars * del) AS BIGINT) AS chars_deleted
          FROM j GROUP BY 1)
        SELECT shard, n_docs, n_deleted, chars_deleted,
               CAST(CASE WHEN n_deleted > 0 THEN 1 ELSE 0 END AS BIGINT)
                 AS must_rewrite,
               CASE WHEN n_deleted > 0
                    THEN n_docs * 1000000 // n_deleted
                    ELSE 0 END AS amplification_ppm
        FROM g ORDER BY shard""")),

    // ------------------- join-key skew audit (the pre-salting check)
    // q_scale_salted_join APPLIES the fix; this query makes the
    // DECISION: project the candidate join key's weight distribution
    // onto a 32-way hash layout and report (a) the heaviest key's
    // share and (b) the heaviest partition's load relative to perfect
    // balance (1e6 ppm = uniform) — the number that says whether a
    // shuffle on this key stalls on one reducer. Orders ⋈ lineitem on
    // custkey is the candidate edge here (customers skew by activity).
    // Two hash aggregates (key weights → partition loads), both
    // map-side combinable; output is one row of integers, identical
    // at any scale because shares are ratios.
    "q_scale_skew_audit" -> GraftQuery(
      run = (s, d) => {
        val keyed = Tables.orders(s, d)
          .join(Tables.lineitem(s, d),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_custkey").as("k"))
          .agg(count(lit(1)).as("w"))
        val parts = keyed
          .withColumn("p",
            expr("CAST(conv(substr(md5(CAST(k AS STRING)), 1, 8), " +
              "16, 10) AS BIGINT) % 32"))
          .groupBy("p").agg(sum(col("w")).as("pw"))
        keyed.agg(sum(col("w")).as("n_rows"),
            count(lit(1)).as("n_keys"), max(col("w")).as("top_key_w"))
          .crossJoin(broadcast(parts.agg(max(col("pw")).as("max_part_w"),
            count(lit(1)).as("n_parts"))))
          .select(col("n_rows"), col("n_keys"), col("top_key_w"),
            expr("top_key_w * 1000000 div n_rows").as("top_key_share_ppm"),
            col("max_part_w"), col("n_parts"),
            // heaviest partition vs perfect balance: 1e6 = uniform,
            // 2e6 = one reducer carries 2x its fair share
            expr("max_part_w * 32 * 1000000 div n_rows")
              .as("max_part_balance_ppm"))
      },
      oracle = Some("""
        WITH kw AS (
          SELECT o.o_custkey AS k, count(*) AS w
          FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
          GROUP BY 1),
        pw AS (
          SELECT ('0x'||substr(md5(k::VARCHAR),1,8))::BIGINT % 32 AS p,
                 CAST(sum(w) AS BIGINT) AS pw
          FROM kw GROUP BY 1),
        t AS (SELECT CAST(sum(w) AS BIGINT) AS n_rows,
                     count(*) AS n_keys,
                     CAST(max(w) AS BIGINT) AS top_key_w
              FROM kw),
        pp AS (SELECT max(pw) AS max_part_w, count(*) AS n_parts FROM pw)
        SELECT n_rows, n_keys, top_key_w,
               top_key_w * 1000000 // n_rows AS top_key_share_ppm,
               max_part_w, n_parts,
               max_part_w * 32 * 1000000 // n_rows
                 AS max_part_balance_ppm
        FROM t CROSS JOIN pp""")),

    // ------------- observed-metrics quality gate (zero-extra-pass audit)
    // Every audit in this pack so far costs its own scan; this one
    // costs NOTHING extra: `Dataset.observe` + `Observation` attach
    // aggregate metrics to a query already running (here a count
    // action stands in for the real job — a write or a downstream
    // transform), and Spark's CollectMetrics operator accumulates them
    // on the executors as rows stream THROUGH the existing pass. At
    // 100 TB this is the only affordable shape for per-job data-quality
    // counters (row count, null/zero tallies, ts bounds, an exact
    // centi-scaled checksum) — a separate validation scan would double
    // the job's IO. The metrics come back as one literal row; the
    // oracle recomputes them as ordinary aggregates, proving the
    // piggybacked pass sees exactly every row.
    "q_scale_observe" -> GraftQuery(
      run = (s, d) => {
        import org.apache.spark.sql.Observation
        val obs = Observation("quality_gate")
        val ev = Tables.events(s, d)
          .select(col("event_id"), col("ts"), col("value"),
            expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("v_centi"))
        val observed = ev.observe(obs,
          count(lit(1)).as("n_rows"),
          sum(col("value").isNull.cast("long")).as("n_null_value"),
          sum((col("value") === 0.0).cast("long")).as("n_zero_value"),
          min(expr("ts div 1000")).as("min_us"),
          max(expr("ts div 1000")).as("max_us"),
          sum(col("v_centi")).as("sum_value_centi"))
        observed.count() // the host job; metrics ride this single pass
        val m = obs.get
        val names = Seq("n_rows", "n_null_value", "n_zero_value",
          "min_us", "max_us", "sum_value_centi")
        val row = org.apache.spark.sql.Row(
          names.map(n => m.get(n).orNull): _*)
        s.createDataFrame(
          java.util.Collections.singletonList(row),
          org.apache.spark.sql.types.StructType(names.map(n =>
            org.apache.spark.sql.types.StructField(n,
              org.apache.spark.sql.types.LongType, nullable = true))))
      },
      oracle = Some("""
        SELECT count(*) AS n_rows,
               CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_null_value,
               CAST(sum(CASE WHEN value = 0.0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_zero_value,
               min(epoch_us(ts)) AS min_us,
               max(epoch_us(ts)) AS max_us,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS sum_value_centi
        FROM events"""))
  )
}
