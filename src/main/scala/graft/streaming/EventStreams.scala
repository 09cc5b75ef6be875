package graft.streaming

import graft.{GraftQuery, QueryPack}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types._

/** Event record as read from the stream (ts = nanos since epoch — the
  * normalized contract [[EventStreams.eventStream]] produces whatever
  * physical type the parquet carries). */
final case class Event(
    event_id: Long, ts: Long, user_id: Long, event_type: String,
    value: Double, props: String)

/** Accumulated session state for one user (mapGroupsWithState buffer);
  * `cur_len` carries the open session across micro-batches. */
final case class UserSessions(
    n_sessions: Int, n_events: Int, last_ts: Long, cur_len: Int,
    longest_session: Int)

/** Trailing-ring state for the streaming anomaly gate: the last ≤ 20
  * centi-scaled values of one user, oldest first — exactly the ROWS
  * BETWEEN 20 PRECEDING AND 1 PRECEDING frame of the batch form,
  * carried across micro-batches. */
final case class AnomalyRing(vs: Seq[Long])

/** Greedy funnel progress for one user (µs timestamps, −1 = stage not
  * reached): t_view = first view, t_click = first click strictly after
  * t_view, t_purchase = first purchase strictly after t_click — three
  * longs of state per user, carried across micro-batches. */
final case class FunnelState(t_view: Long, t_click: Long, t_purchase: Long)

/** Point-in-time feature state for one user: the latest value seen
  * from each feature group (None before the group's first update) —
  * two optional doubles per user regardless of event volume, carried
  * across micro-batches. */
final case class PitState(va: Option[Double], vb: Option[Double])

/** The sessionizer on Spark 4's arbitrary-state API
  * (`transformWithState`): one `ValueState[UserSessions]` per user,
  * advanced by the same fold as the `mapGroupsWithState` form. The two
  * APIs must be pure plumbing choices — `q_stream_tws_sessionize` pins
  * them to the same oracle the way `q_stream_rocksdb` pins state
  * backends. */
final class SessionProcessor
    extends StatefulProcessor[Long, Event, (Long, Int, Int, Int)] {
  @transient private var state: ValueState[UserSessions] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[UserSessions]("sessions",
      org.apache.spark.sql.Encoders.product[UserSessions], TTLConfig.NONE)

  override def handleInputRows(
      user: Long, rows: Iterator[Event],
      timerValues: TimerValues): Iterator[(Long, Int, Int, Int)] = {
    val prev =
      if (state.exists()) state.get() else EventStreams.emptySessions
    val st = EventStreams.advance(prev, rows.map(_.ts / 1000).toSeq.sorted)
    state.update(st)
    Iterator.single((user, st.n_sessions, st.n_events, st.longest_session))
  }
}

/** Session-timeout emitter on event-time timers: each batch re-arms a
  * timer at (last event + 30 min); when the WATERMARK passes it —
  * i.e. the user has verifiably gone quiet — the open session emits
  * and the state clears. Nothing emits on data arrival: emission is
  * driven purely by `handleExpiredTimer`, the piece of the
  * arbitrary-state API the sessionizer variants don't touch. */
final class SessionTimeoutProcessor
    extends StatefulProcessor[Long, Event, (Long, Int, Long)] {
  @transient private var state: ValueState[UserSessions] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[UserSessions]("open",
      org.apache.spark.sql.Encoders.product[UserSessions], TTLConfig.NONE)

  override def handleInputRows(
      user: Long, rows: Iterator[Event],
      timerValues: TimerValues): Iterator[(Long, Int, Long)] = {
    val prev = if (state.exists()) state.get() else EventStreams.emptySessions
    val st = EventStreams.advance(prev, rows.map(_.ts / 1000).toSeq.sorted)
    state.update(st)
    // re-arm: one live timer per user at (last event + gap), in ms
    getHandle.listTimers().foreach(getHandle.deleteTimer)
    getHandle.registerTimer(st.last_ts / 1000 + 30L * 60 * 1000)
    Iterator.empty
  }

  override def handleExpiredTimer(
      user: Long, timerValues: TimerValues,
      expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
      : Iterator[(Long, Int, Long)] = {
    // A timer can outlive its state (batch retry, duplicate-timer
    // delivery): no-op instead of NPEing the stream.
    if (!state.exists()) return Iterator.empty
    val st = state.get()
    state.clear()
    Iterator.single((user, st.cur_len, st.last_ts))
  }
}

/** Structured Streaming operators over the `events` table.
  *
  * The reference is pure batch (SURVEY §2.10) — these are the
  * forward-looking streaming surface a 100 TB pipeline needs: file-source
  * streams with event-time watermarks, tumbling-window aggregation, and
  * arbitrary stateful processing via `mapGroupsWithState`.
  *
  * Both queries run with `Trigger.AvailableNow` against the static
  * parquet (one micro-batch, nothing past the watermark), so their
  * results equal the batch computation and carry full DuckDB oracles —
  * the same code pointed at a live directory is a real continuous
  * pipeline.
  *
  * Scale notes: windowed aggregation shuffles once on (window, key) with
  * partial aggregation map-side; sessionization shuffles once on
  * user_id and holds O(1) state per key in the state store — both are
  * the canonical shapes that scale linearly with executor count.
  */
object EventStreams extends QueryPack {

  private val eventSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** The rows the materialized views' foreachBatch writers store:
    * per (event_type, hour) counts and micro-unit value sums. */
  private val partialSchema = StructType(Seq(
    StructField("event_type", StringType), StructField("h", LongType),
    StructField("n_events", LongType), StructField("sum_value_micro", LongType)))

  /** A view store as Spark lays it out: the partials, then the
    * `batch_id` partition column. Its values are the batch ids and
    * `base`, so it is a string. */
  private val partialStore = partialSchema.add("batch_id", StringType)

  /** File-source stream over an events directory with `ts` normalized
    * to the ns-long contract (see [[graft.Tables.events]] — the
    * generator has shipped ts both as INT64 nanos and as
    * timestamp[us]). A file stream must declare its schema up front, so
    * sniff the actual ts type with one batch footer read of the same
    * glob, declare that, and project back to the ns grid. */
  private[streaming] def eventStream(
      s: SparkSession, dir: String,
      globFilter: Option[String] = Some("events.parquet"),
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val tsType = try {
      var r = s.read
      globFilter.foreach(g => r = r.option("pathGlobFilter", g))
      r.parquet(dir).schema("ts").dataType
    } catch {
      // zero matching files (an empty or not-yet-created landing
      // directory): nothing to sniff and nothing to read — declare the
      // historical ns-long contract so the stream starts (empty)
      // exactly as before. ONLY those two conditions: a genuinely
      // broken path or unreadable footer must fail loudly here, not
      // surface later as a confusingly empty stream.
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getCondition).exists(c =>
            c.startsWith("UNABLE_TO_INFER_SCHEMA") ||
              c.startsWith("PATH_NOT_FOUND")) =>
        LongType
    }
    val schema = StructType(eventSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = tsType) else f))
    var reader = s.readStream.schema(schema)
    globFilter.foreach(g => reader = reader.option("pathGlobFilter", g))
    maxFilesPerTrigger.foreach(n =>
      reader = reader.option("maxFilesPerTrigger", n.toString))
    val df = reader.parquet(dir)
    if (tsType == LongType) df
    else df.withColumn("ts", expr("unix_micros(cast(ts as timestamp)) * 1000"))
  }

  /** Streaming micro-batch plans are sized explicitly (AQE never
    * re-plans them): 8 state-store partitions instead of the session's
    * batch setting — every stateful operator initializes one state
    * store PER shuffle partition, which dominates short-lived streaming
    * queries; results are partition-count independent.
    *
    * r11 (optimization, guide §1 measured): `noDataMicroBatches`
    * defaults OFF here. A watermarked query under AvailableNow runs one
    * extra EMPTY micro-batch after the data is exhausted, purely to
    * advance the watermark — measured ~1.0–1.6 s per query at sf0.1
    * (state-store load+commit across 8 partitions for zero input rows).
    * For every query whose OUTPUT does not depend on watermark-driven
    * emission (Update/Complete aggregates, inner stream-stream joins,
    * dropDuplicates[WithinWatermark]) that batch only EVICTS state —
    * in a continuous production stream eviction rides the next data
    * batch anyway, so skipping it is the standard knob
    * (`spark.sql.streaming.noDataMicroBatches.enabled=false`), not a
    * semantics change; oracle-verified per query. Queries whose rows
    * only EXIST once the watermark passes (stream-stream OUTER join's
    * unmatched side, event-time-timer emission) pass
    * `needsNoDataBatch = true` and keep the batch. */
  private[graft] def withStreamConfs[A](
      s: SparkSession, needsNoDataBatch: Boolean)(body: => A): A = {
    val pKey = "spark.sql.shuffle.partitions"
    val nKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prevP = s.conf.get(pKey)
    val prevN = s.conf.get(nKey)
    // r12: parameterized (was a literal "8"). Every stateful operator
    // runs one state store PER shuffle partition per batch, and each
    // store's load+commit is a fixed filesystem cost (~50-90 ms here)
    // regardless of how little state it holds — so the right partition
    // count follows STATE VOLUME, not core count. Production sets
    // spark.graft.stream.statePartitions to keep per-store state in the
    // 10-100 MB band; the local default of 4 is measured against the
    // bench streams (~200k rows/batch, ≤40k state rows — overhead-
    // dominated): the 8→4→2 sweep read 35.3→27.8→26.8 s over the
    // 23-query section with EVERY query improving at 4, and 2 within
    // noise of 4 (RocksDB + changelog checkpointing was also measured
    // here and REJECTED: 2.9→3.9 s warm on q_stream_outer_join — 32
    // native store instances per batch for ~40k state rows).
    s.conf.set(pKey, s.conf.get("spark.graft.stream.statePartitions", "4"))
    s.conf.set(nKey, needsNoDataBatch.toString)
    try body finally {
      s.conf.set(pKey, prevP)
      s.conf.set(nKey, prevN)
    }
  }

  /** Run a streaming DataFrame to completion into a memory sink and
    * return the materialized result. */
  private[streaming] def runToMemory(
      s: SparkSession, df: DataFrame, name: String,
      mode: OutputMode, needsNoDataBatch: Boolean = false): DataFrame = {
    withStreamConfs(s, needsNoDataBatch) {
      val q = df.writeStream
        .queryName(name)
        .format("memory")
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.table(name)
  }

  // Gap compared in MICROSECONDS on both sides: DuckDB reads the
  // TIMESTAMP(NANOS) parquet column at µs precision, so a nanosecond
  // comparison here classified gaps within 1 µs of exactly 30:00
  // differently from the oracle (r1 hash fail). `ts div 1000` is the
  // same truncation q_stream_tumbling already applies.
  private val gapUs = 30L * 60 * 1000000L

  private[streaming] val emptySessions = UserSessions(0, 0, Long.MinValue, 0, 0)

  /** Shared oracle for BOTH sessionization forms (stateful and native
    * session_window): per-user session stats with a >30-minute gap rule
    * — one text so a future gap-semantics fix cannot diverge them. */
  private val sessionOracleSql = """
        WITH marked AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                        IS NULL
                      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                        > INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS new_session
          FROM events),
        sessions AS (
          SELECT user_id, ts,
                 sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS session_id
          FROM marked),
        per_session AS (
          SELECT user_id, session_id, count(*) AS n
          FROM sessions GROUP BY 1, 2)
        SELECT user_id, count(*) AS n_sessions,
               CAST(sum(n) AS BIGINT) AS n_events,
               max(n) AS longest_session
        FROM per_session GROUP BY user_id ORDER BY user_id"""

  /** Fold a sorted batch of event times (µs) into the running session
    * state (a >30-minute event-time gap opens a new session). */
  private[streaming] def advance(st: UserSessions, tsSorted: Seq[Long]): UserSessions = {
    var n = st.n_sessions; var e = st.n_events; var last = st.last_ts
    var cur = st.cur_len; var lon = st.longest_session
    tsSorted.foreach { t =>
      if (n == 0 || t - last > gapUs) { n += 1; cur = 0 }
      cur += 1
      if (cur > lon) lon = cur
      last = t
      e += 1
    }
    UserSessions(n, e, last, cur, lon)
  }

  /** The sessionization stream: parquet file source → per-user
    * mapGroupsWithState. Public so specs can drive it across multiple
    * micro-batches (maxFilesPerTrigger) to exercise the state carry. */
  def sessionizeStream(
      s: SparkSession,
      dir: String,
      globFilter: Option[String] = None,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import s.implicits._
    eventStream(s, dir, globFilter, maxFilesPerTrigger)
      .as[Event]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (user: Long, events: Iterator[Event], state: GroupState[UserSessions]) =>
          val st = advance(state.getOption.getOrElse(emptySessions),
            events.map(_.ts / 1000).toSeq.sorted)
          state.update(st)
          (user, st.n_sessions, st.n_events, st.longest_session)
      }
      .toDF("user_id", "n_sessions", "n_events", "longest_session")
  }

  /** The streaming anomaly gate: per-user flatMapGroupsWithState holds
    * the trailing ≤ 20 centi-values ([[AnomalyRing]]) and scores each
    * arriving event with the same all-integer z-test as the batch
    * window form ((n·v−S)² > 9·(nQ−S²), warm-up n ≥ 8) — see
    * `q_window_anomaly`. Within a batch each group's rows are folded in
    * (ts, event_id) order; across batches the ring carries, so a
    * time-ordered replay produces exactly the batch result. State is
    * O(20 longs) per live entity — the per-key footprint that lets the
    * gate run forever. Public so specs can drive the state carry with
    * maxFilesPerTrigger. */
  def anomalyStream(
      s: SparkSession,
      dir: String,
      globFilter: Option[String] = None,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import s.implicits._
    eventStream(s, dir, globFilter, maxFilesPerTrigger)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (user: Long, events: Iterator[Event],
         state: GroupState[AnomalyRing]) =>
          val ring = scala.collection.mutable.ArrayDeque.empty[Long]
          state.getOption.foreach(r => ring.appendAll(r.vs))
          // running S and Q maintained on append/evict — O(1) per
          // event instead of an O(ring) rescan in the hot path
          var sm = 0L; var q = 0L
          ring.foreach { x => sm += x; q += x * x }
          val out = Seq.newBuilder[(Long, Long, Long, Long, Long, Long)]
          // sort on the µs grid, not raw ns: the batch window and the
          // shared oracle tie-break on (ts div 1000, event_id), and a
          // ns-typed shipment of the events table would otherwise
          // order sub-µs neighbors differently here (the r1 ns-vs-µs
          // hash-fail class)
          events.toSeq.sortBy(e => (e.ts / 1000, e.event_id)).foreach { e =>
            val v = math.floor(e.value * 100 + 0.5).toLong
            val n = ring.length.toLong
            if (n >= 8) {
              val d = n * q - sm * sm
              val dev = n * v - sm
              if (d > 0 && dev * dev > 9 * d)
                out += ((user, e.event_id, e.ts / 1000, v, n,
                  dev * dev * 1000L / d))
            }
            ring.append(v); sm += v; q += v * v
            if (ring.length > 20) {
              val h = ring.removeHead()
              sm -= h; q -= h * h
            }
          }
          state.update(AnomalyRing(ring.toSeq))
          out.result().iterator
      }
      .toDF("user_id", "event_id", "us", "v_centi", "n_prior", "z2_ppk")
  }

  /** The transformWithState sessionizer stream (requires the RocksDB
    * state store provider on the session). Public so specs can drive it
    * across multiple micro-batches exactly like [[sessionizeStream]]. */
  def twsSessionStream(
      s: SparkSession,
      dir: String,
      globFilter: Option[String] = None,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import s.implicits._
    eventStream(s, dir, globFilter, maxFilesPerTrigger)
      .as[Event]
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor,
        TimeMode.None(), OutputMode.Update(),
        org.apache.spark.sql.Encoders.product[(Long, Int, Int, Int)])
      .toDF("user_id", "n_sessions", "n_events", "longest_session")
  }

  /** Streaming point-in-time feature serving: per-user state is the
    * latest value of each feature group; every arriving spine event
    * (click) emits enriched with the features as of its event time —
    * the online half of q_join_pit, whose batch oracle it shares
    * verbatim. Within a batch, a user's events replay in the batch
    * window's exact order ((µs, kind, event_id) — features sort before
    * their equal-instant spine rows); across micro-batches the carried
    * two-option state IS the carry-forward window frame. */
  def pitStream(
      s: SparkSession,
      dir: String,
      globFilter: Option[String] = None,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import s.implicits._
    val kindOf = Map("view" -> 0, "error" -> 1, "click" -> 2)
    eventStream(s, dir, globFilter, maxFilesPerTrigger)
      .filter(col("event_type").isin("view", "error", "click"))
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (user: Long, events: Iterator[Event],
         state: GroupState[PitState]) =>
          var st = state.getOption.getOrElse(PitState(None, None))
          val out = Seq.newBuilder[(Long, Long, Option[Double], Option[Double])]
          events.toSeq
            .sortBy(e => (e.ts / 1000, kindOf(e.event_type), e.event_id))
            .foreach { e =>
              e.event_type match {
                case "view"  => st = st.copy(va = Some(e.value))
                case "error" => st = st.copy(vb = Some(e.value))
                case _       => out += ((e.event_id, user, st.va, st.vb))
              }
            }
          state.update(st)
          out.result().iterator
      }
      .toDF("event_id", "user_id", "lva", "lvb")
      .select(col("event_id"), col("user_id"),
        round(col("lva"), 4).as("last_view_value"),
        round(col("lvb"), 4).as("last_error_value"))
  }

  /** The streaming conversion funnel: per-user [[FunnelState]] (three
    * longs) advanced by a greedy time-ordered fold — first view, first
    * click strictly after it, first purchase strictly after that. The
    * greedy fold equals the batch min-join form (q_window_funnel) on
    * any time-ordered replay: t_view is the global min view time, so
    * every later qualifying click seen in order IS the min qualifying
    * click, and so on down the funnel. Emits each user's current depth
    * per batch (Update). Public so specs can drive the cross-batch
    * carry (a click in batch 2 must qualify against batch 1's view). */
  def funnelStream(
      s: SparkSession,
      dir: String,
      globFilter: Option[String] = None,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import s.implicits._
    eventStream(s, dir, globFilter, maxFilesPerTrigger)
      .as[Event]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (user: Long, events: Iterator[Event],
         state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          // µs grid + event_id tie-break: the same ordering contract as
          // the anomaly fold (ns-typed shipments must not reorder)
          events.toSeq.sortBy(e => (e.ts / 1000, e.event_id)).foreach { e =>
            val us = e.ts / 1000
            e.event_type match {
              case "view" if st.t_view < 0 =>
                st = st.copy(t_view = us)
              case "click" if st.t_click < 0 && st.t_view >= 0 &&
                  us > st.t_view =>
                st = st.copy(t_click = us)
              case "purchase" if st.t_purchase < 0 && st.t_click >= 0 &&
                  us > st.t_click =>
                st = st.copy(t_purchase = us)
              case _ =>
            }
          }
          state.update(st)
          val depth =
            if (st.t_purchase >= 0) 3
            else if (st.t_click >= 0) 2
            else if (st.t_view >= 0) 1
            else 0
          (user, depth)
      }
      .toDF("user_id", "funnel_depth")
  }

  /** The event-time-timer session-closer stream (requires the RocksDB
    * state store provider on the session). Public so StreamRestartSpec
    * can kill/restart it against a checkpoint — registered timers and
    * ValueState must both survive the restart. */
  def sessionTimeoutStream(
      s: SparkSession,
      dir: String,
      globFilter: Option[String] = None,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import s.implicits._
    eventStream(s, dir, globFilter, maxFilesPerTrigger)
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_time", "10 minutes")
      .as[Event]
      .groupByKey(_.user_id)
      .transformWithState(new SessionTimeoutProcessor,
        TimeMode.EventTime(), OutputMode.Append(),
        org.apache.spark.sql.Encoders.product[(Long, Int, Long)])
      .toDF("user_id", "closed_len", "last_ts_us")
  }

  val queries: Map[String, GraftQuery] = Map(

    // ---------------------------- tumbling event-time window with watermark
    "q_stream_tumbling" -> GraftQuery(
      run = (s, d) => {
        val stream = eventStream(s, d)
          .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
          .withWatermark("event_time", "10 minutes")
          .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
          .select(
            date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
            col("event_type"), col("n"), col("sum_value"))
        // Update (not Append): Append would hold back windows the
        // watermark hasn't closed yet — the final hour would be missing
        // at end-of-stream. With Update the watermark still evicts state;
        // one AvailableNow batch emits each group exactly once.
        runToMemory(s, stream, "graft_stream_tumbling", OutputMode.Update())
          .orderBy("hour", "event_type")
      },
      oracle = Some("""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
               event_type, count(*) AS n, round(sum(value), 4) AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ------------------------- sliding event-time windows (overlapping)
    // window(1 hour, 30 minutes): every event lands in TWO overlapping
    // windows — the moving-average shape. The oracle enumerates both
    // containing windows per event via the slide grid.
    "q_stream_sliding" -> GraftQuery(
      run = (s, d) => {
        val stream = eventStream(s, d)
          .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
          .withWatermark("event_time", "10 minutes")
          .groupBy(window(col("event_time"), "1 hour", "30 minutes"),
            col("event_type"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("value")), 4).as("sum_value"))
          .select(
            date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
              .as("window_start"),
            col("event_type"), col("n"), col("sum_value"))
        runToMemory(s, stream, "graft_stream_sliding", OutputMode.Update())
          .orderBy("window_start", "event_type")
      },
      oracle = Some("""
        WITH w AS (
          SELECT event_type, value,
                 make_timestamp(((epoch_us(ts) // 1800000000 - k)
                                 * 1800000000)::BIGINT) AS window_start
          FROM events, generate_series(0, 1) t(k))
        SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type, count(*) AS n, round(sum(value), 4) AS sum_value
        FROM w GROUP BY 1, 2 ORDER BY 1, 2""")),

    // --------------------------- stream-stream join (time-range condition)
    // clicks ⋈ errors per user within a 10-minute event-time range;
    // inner joins emit eagerly on match, watermarks bound both sides'
    // state — the canonical correlated-streams shape.
    "q_stream_join" -> GraftQuery(
      run = (s, d) => {
        def side(tpe: String, alias: String) =
          eventStream(s, d)
            .filter(col("event_type") === tpe)
            .withColumn(s"${alias}_time", timestamp_micros(expr("ts div 1000")))
            .withWatermark(s"${alias}_time", "10 minutes")
            .select(col("user_id").as(s"${alias}_user"),
              col("event_id").as(s"${alias}_id"), col(s"${alias}_time"))
        val joined = side("click", "c").join(side("error", "e"),
          col("c_user") === col("e_user") &&
            col("e_time") >= col("c_time") &&
            col("e_time") <= col("c_time") + expr("INTERVAL 10 MINUTES"))
          .select(col("c_user").as("user_id"), col("c_id").as("click_id"),
            col("e_id").as("error_id"))
        runToMemory(s, joined, "graft_stream_join", OutputMode.Append())
          .orderBy("user_id", "click_id", "error_id")
      },
      oracle = Some("""
        SELECT c.user_id, c.event_id AS click_id, e.event_id AS error_id
        FROM events c JOIN events e
          ON c.user_id = e.user_id
         AND c.event_type = 'click' AND e.event_type = 'error'
         AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 10 MINUTE
        ORDER BY c.user_id, click_id, error_id""")),

    // ---------------------- stream-stream LEFT OUTER join (null emission)
    // The outer variant of q_stream_join: clicks that saw no error from
    // the same user within 10 minutes must STILL emit — with a null
    // error side — but only once their join state expires, i.e. when
    // the watermark passes the end of their match window. Under
    // AvailableNow the data arrives in one batch; the engine then runs
    // the no-data micro-batch that the advanced watermark requires, and
    // that batch evicts + emits the unmatched rows — deterministic, not
    // timing-dependent. The oracle reconstructs the final watermark
    // (min over both sides of max event time, minus the 10-minute
    // delay) and emits exactly the unmatched clicks whose window closed
    // before it; clicks still in flight at end-of-stream are in neither
    // result. Watermark reconstruction floors each side's max event
    // time to MILLISECONDS before subtracting the delay — Spark's
    // EventTimeWatermarkExec tracks event-time stats in ms
    // (microsToMillis floors), so a µs-precision oracle watermark
    // would sit up to 999 µs LATER than the engine's and emit an
    // unmatched click the engine still holds in join state.
    "q_stream_outer_join" -> GraftQuery(
      run = (s, d) => {
        def side(tpe: String, alias: String) =
          eventStream(s, d)
            .filter(col("event_type") === tpe)
            .withColumn(s"${alias}_time", timestamp_micros(expr("ts div 1000")))
            .withWatermark(s"${alias}_time", "10 minutes")
            .select(col("user_id").as(s"${alias}_user"),
              col("event_id").as(s"${alias}_id"), col(s"${alias}_time"))
        val joined = side("click", "c").join(side("error", "e"),
          col("c_user") === col("e_user") &&
            col("e_time") >= col("c_time") &&
            col("e_time") <= col("c_time") + expr("INTERVAL 10 MINUTES"),
          "leftOuter")
          .select(col("c_user").as("user_id"), col("c_id").as("click_id"),
            col("e_id").as("error_id"))
        // needsNoDataBatch: the unmatched-click rows EXIST only because
        // the post-data empty batch advances the watermark past their
        // join window — skipping it would drop them (oracle-pinned)
        runToMemory(s, joined, "graft_stream_outer_join", OutputMode.Append(),
          needsNoDataBatch = true)
          .orderBy("user_id", "click_id", "error_id")
      },
      oracle = Some("""
        WITH c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS t
                   FROM events WHERE event_type = 'click'),
        e AS (SELECT user_id, event_id AS error_id, epoch_us(ts) AS t
              FROM events WHERE event_type = 'error'),
        wm AS (SELECT least((SELECT (max(t) // 1000) * 1000 FROM c),
                            (SELECT (max(t) // 1000) * 1000 FROM e))
                      - 600000000 AS w),
        matched AS (
          SELECT c.user_id, c.click_id, e.error_id
          FROM c JOIN e ON e.user_id = c.user_id
            AND e.t >= c.t AND e.t <= c.t + 600000000),
        unmatched AS (
          SELECT c.user_id, c.click_id, CAST(NULL AS BIGINT) AS error_id
          FROM c CROSS JOIN wm
          WHERE c.t + 600000000 < w
            AND NOT EXISTS (SELECT 1 FROM e
                            WHERE e.user_id = c.user_id
                              AND e.t >= c.t AND e.t <= c.t + 600000000))
        SELECT * FROM (SELECT * FROM matched
                       UNION ALL SELECT * FROM unmatched)
        ORDER BY user_id, click_id, error_id""")),

    // ------------------------------------ streaming dedup (keyed state)
    // Each event is duplicated in-stream (explode×2), then
    // dropDuplicates on the key removes the copies with per-key state —
    // the streaming form of exact dedup (watermark bounds the state at
    // scale; here the single AvailableNow batch keeps it exact).
    "q_stream_dedup" -> GraftQuery(
      run = (s, d) => {
        val deduped = eventStream(s, d)
          .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
          .withColumn("copy", explode(array(lit(1), lit(2))))
          .withWatermark("event_time", "10 minutes")
          .dropDuplicates("event_id")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_unique"),
            round(sum(col("value")), 4).as("sum_value"))
        runToMemory(s, deduped, "graft_stream_dedup", OutputMode.Update())
          .orderBy("event_type")
      },
      oracle = Some("""
        SELECT event_type, count(*) AS n_unique,
               round(sum(value), 4) AS sum_value
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // ------------------------------ foreachBatch sink (exactly-once shape)
    // The production custom-sink pattern: foreachBatch hands each
    // micro-batch to arbitrary writer code with its batchId; writing
    // into a batch_id-keyed location makes retries IDEMPOTENT (a
    // re-executed batch overwrites its own output instead of appending
    // duplicates) — the standard exactly-once recipe for sinks without
    // transactional streaming support. The query returns batch 0's sink
    // contents read back, which under AvailableNow equals the batch
    // aggregate — hence a full DuckDB oracle.
    "q_stream_foreachbatch" -> GraftQuery(
      run = (s, d) => {
        // overwrite mode into the session's one sink dir: repeated
        // runs (verify dumps, bench rounds) reuse it
        val out = graft.StoreBuilds.scratchDir(s, d, "graft-fb-sink")
        val stream = eventStream(s, d)
          .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
          .withWatermark("event_time", "10 minutes")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("value")), 4).as("sum_value"))
        withStreamConfs(s, needsNoDataBatch = false) {
          val q = stream.writeStream
            .outputMode(OutputMode.Update())
            .trigger(Trigger.AvailableNow())
            .foreachBatch {
              (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
               batchId: Long) =>
                batch.write.mode("overwrite")
                  .parquet(s"$out/batch_id=$batchId")
            }
            .start()
          q.awaitTermination()
        }
        s.read.schema(stream.schema).parquet(s"$out/batch_id=0")
          .orderBy("event_type")
      },
      oracle = Some("""
        SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // ------------------ streaming materialized-view maintenance
    // The streaming twin of q_scale_mv_maintain: an hourly-revenue
    // view maintained from a landing directory replayed as a GENUINE
    // multi-batch stream (the table lands as 4 files,
    // maxFilesPerTrigger=1 → 4 micro-batches). Each batch writes its
    // partial aggregates under its own batch_id partition (overwrite →
    // a re-executed batch replaces itself, the idempotent-sink recipe),
    // and the view is the read-time merge of all partials — the
    // segment-store shape (append partials, compact/merge on read)
    // that keeps streaming ingestion O(batch) with no stateful
    // operator at all. Values live on a 1e4 integer grid so the
    // 4-batch merge is bit-equal to the one-shot aggregate; the
    // oracle is the full batch recompute — equality is the view-
    // maintenance contract, exactly as in the batch twin.
    "q_stream_mv_maintain" -> GraftQuery(
      run = (s, d) => {
        // one scratch pair per (session, dataset), reused across
        // invocations (a bench/verify session calls a query several
        // times; fresh dirs per call would accumulate full copies of
        // the events table in tmp until JVM exit)
        val landing = graft.StoreBuilds.scratchDir(s, d, "graft-mv-landing")
        val store =
          graft.StoreBuilds.scratchDir(s, d, "graft-mv-store") + "/view"
        graft.Tables.events(s, d)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"), col("props"))
          .repartition(4)
          .write.mode("overwrite").parquet(landing)
        // rebuild the store from this run's batches alone: a prior
        // run that produced more batches than this one would otherwise
        // leave stale batch_id partitions in the merge
        val storePath = new org.apache.hadoop.fs.Path(store)
        val storeFs =
          storePath.getFileSystem(s.sparkContext.hadoopConfiguration)
        storeFs.delete(storePath, true)
        // the landing is self-written from Tables.events, but read it
        // through the shared helper anyway — its ts sniff keeps this
        // stream on the ns contract even if the landing write changes
        val stream = eventStream(s, landing, globFilter = None,
          maxFilesPerTrigger = Some(1))
        withStreamConfs(s, needsNoDataBatch = false) {
          val q = stream.writeStream
            .trigger(Trigger.AvailableNow())
            .foreachBatch {
              (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
               batchId: Long) =>
                batch
                  .select(col("event_type"),
                    expr("(ts div 1000) div 3600000000").as("h"),
                    expr("CAST(floor(value * 10000.0 + 0.5) AS BIGINT)")
                      .as("vm"))
                  .groupBy("event_type", "h")
                  .agg(count(lit(1)).as("n_events"),
                    sum(col("vm")).as("sum_value_micro"))
                  .write.mode("overwrite")
                  .parquet(s"$store/batch_id=$batchId")
            }
            .start()
          q.awaitTermination()
        }
        // a zero-file source fires no batch: the store was never
        // created — an empty corpus is an empty view, not a read error
        val partials =
          if (!storeFs.exists(storePath))
            s.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              partialSchema)
          else s.read.schema(partialStore).parquet(store)
        partials.groupBy("event_type", "h")
          .agg(sum(col("n_events")).as("n_events"),
            sum(col("sum_value_micro")).as("sum_value_micro"))
          .orderBy("event_type", "h")
      },
      oracle = Some("""
        SELECT event_type, epoch_us(ts) // 3600000000 AS h,
               count(*) AS n_events,
               CAST(sum(CAST(floor(value * 10000.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS sum_value_micro
        FROM events GROUP BY 1, 2 ORDER BY event_type, h""")),

    // --------------- streaming retraction maintenance (CDC change feed)
    // q_scale_mv_retract's signed-delta algebra fed from a STREAM: the
    // stored view's partials sit under batch_id=base, a change feed
    // (deterministic deletes: event_id % 97; value corrections:
    // event_id % 89) replays through AvailableNow micro-batches, and
    // foreachBatch writes each batch's map-side-reduced SIGNED deltas
    // under its batch_id partition — overwrite keeps re-executed
    // batches idempotent (the same effectively-once contract as
    // q_stream_mv_maintain). The view is the read-time keyed sum of
    // base + every delta partial with an n > 0 gate; the oracle is the
    // full recompute over the post-CDC state. This is the Delta-CDF /
    // Flink-retract ingestion shape: per batch only |changed keys|
    // rows land, and the stored view is never recomputed from facts.
    "q_stream_mv_retract" -> GraftQuery(
      run = (s, d) => {
        val landing = graft.StoreBuilds.scratchDir(s, d, "graft-mvr-landing")
        val store =
          graft.StoreBuilds.scratchDir(s, d, "graft-mvr-store") + "/view"
        val isDel = expr("event_id % 97 = 0")
        val isUpd = expr("event_id % 89 = 0 AND event_id % 97 <> 0")
        val vm = expr("CAST(floor(value * 10000.0 + 0.5) AS BIGINT)")
        // the corrected value, on the same integer grid as vm — ONE
        // definition each of the CDC predicates and the micro scaling,
        // captured by the foreachBatch closure below, so the change
        // feed's filter and the delta arithmetic can never drift apart
        val vmNew = expr(
          "(CAST(floor(value * 10000.0 + 0.5) AS BIGINT) * 9) div 10")
        // the change FEED alone lands for streaming — at scale this is
        // the CDF directory, not the fact table
        graft.Tables.events(s, d)
          .filter(isDel || isUpd)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"), col("props"))
          .repartition(2)
          .write.mode("overwrite").parquet(landing)
        val storePath = new org.apache.hadoop.fs.Path(store)
        val storeFs =
          storePath.getFileSystem(s.sparkContext.hadoopConfiguration)
        storeFs.delete(storePath, true)
        // the stored view: one-time base partials (in production these
        // already exist; rebuilt here so the query is self-contained)
        graft.Tables.events(s, d)
          .select(col("event_type"),
            expr("(ts div 1000) div 3600000000").as("h"), vm.as("v"))
          .groupBy("event_type", "h")
          .agg(count(lit(1)).as("n_events"),
            sum(col("v")).as("sum_value_micro"))
          // coalesce(1): an aggregate-sized store segment, and a
          // ZERO-row corpus must still leave one schema-bearing file
          // (an empty multi-task write emits none, and the read-time
          // merge would then fail schema inference)
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$store/batch_id=base")
        val stream = eventStream(s, landing, globFilter = None,
          maxFilesPerTrigger = Some(1))
        withStreamConfs(s, needsNoDataBatch = false) {
          val q = stream.writeStream
            .trigger(Trigger.AvailableNow())
            .foreachBatch {
              (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
               batchId: Long) =>
                batch
                  .select(col("event_type"),
                    expr("(ts div 1000) div 3600000000").as("h"),
                    when(isDel, -1L).otherwise(0L).as("dn"),
                    when(isDel, -vm).otherwise(vmNew - vm).as("dv"))
                  .groupBy("event_type", "h")
                  .agg(sum(col("dn")).as("n_events"),
                    sum(col("dv")).as("sum_value_micro"))
                  .write.mode("overwrite")
                  .parquet(s"$store/batch_id=$batchId")
            }
            .start()
          q.awaitTermination()
        }
        s.read.schema(partialStore).parquet(store)
          .groupBy("event_type", "h")
          .agg(sum(col("n_events")).as("n_events"),
            sum(col("sum_value_micro")).as("sum_value_micro"))
          .filter(col("n_events") > 0)
          .orderBy("event_type", "h")
      },
      oracle = Some("""
        WITH f AS (SELECT event_type, epoch_us(ts) // 3600000000 AS h,
                          CAST(floor(value * 10000.0 + 0.5) AS BIGINT)
                            AS vm,
                          event_id % 97 = 0 AS is_del,
                          event_id % 89 = 0 AND event_id % 97 <> 0
                            AS is_upd
                   FROM events),
        s AS (SELECT event_type, h,
                     CASE WHEN is_upd THEN vm * 9 // 10 ELSE vm END AS vm
              FROM f WHERE NOT is_del)
        SELECT event_type, h, count(*) AS n_events,
               CAST(sum(vm) AS BIGINT) AS sum_value_micro
        FROM s GROUP BY 1, 2 ORDER BY event_type, h""")),

    // ----------------- state-bounded streaming dedup (within watermark)
    // dropDuplicatesWithinWatermark is the production form of streaming
    // dedup: per-key state is EVICTED once the watermark passes, so
    // state stays O(keys-in-window) instead of O(all-keys-ever) — the
    // difference between a dedup that runs for a day and one that runs
    // forever. Same single-batch result as exact dedup here.
    "q_stream_dedup_watermark" -> GraftQuery(
      run = (s, d) => {
        val deduped = eventStream(s, d)
          .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
          .withColumn("copy", explode(array(lit(1), lit(2))))
          .withWatermark("event_time", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_unique"),
            round(sum(col("value")), 4).as("sum_value"))
        runToMemory(s, deduped, "graft_stream_dedup_wm", OutputMode.Update())
          .orderBy("event_type")
      },
      oracle = Some("""
        SELECT event_type, count(*) AS n_unique,
               round(sum(value), 4) AS sum_value
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // ----------------------- native session windows (built-in operator)
    // The same sessionization computed by Spark's native session_window
    // — merging event-time windows in the streaming aggregation
    // operator, no user state code. Gap is 30 min + 1 µs because the
    // native window BREAKS at `t >= last + gap` while the reference
    // semantics (and the oracle) break at `t > last + 30min`: on the
    // µs-truncated domain those coincide exactly at gap = 30:00.000001.
    // Same output contract as q_stream_sessionize → same oracle.
    "q_stream_session_window" -> GraftQuery(
      run = (s, d) => {
        val sessions = eventStream(s, d)
          .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
          .withWatermark("event_time", "10 minutes")
          .groupBy(col("user_id"),
            session_window(col("event_time"), "30 minutes 1 microsecond"))
          .agg(count(lit(1)).as("n"))
        // session merging cannot retract under Update — Complete mode
        // re-emits the full (small, aggregated) result per batch
        val perUser = runToMemory(s, sessions,
          "graft_stream_session_window", OutputMode.Complete())
        perUser.groupBy("user_id")
          .agg(count(lit(1)).as("n_sessions"), sum(col("n")).as("n_events"),
            max(col("n")).as("longest_session"))
          .orderBy("user_id")
      },
      oracle = Some(sessionOracleSql)),

    // ------------------------- streaming conversion funnel (3 longs/user)
    // The batch funnel (q_window_funnel) as a continuous pipeline: a
    // user's conversion stage updates as events arrive instead of
    // re-scanning history — the live conversion dashboard shape. State
    // is THREE longs per user regardless of event volume; the batch
    // oracle is shared verbatim (one AvailableNow replay buckets every
    // user identically to the min-join form). The read-time depth
    // histogram aggregates the per-user emissions.
    "q_stream_funnel" -> GraftQuery(
      run = (s, d) => {
        val depths = funnelStream(s, d, Some("events.parquet"))
        runToMemory(s, depths, "graft_stream_funnel", OutputMode.Update())
          .groupBy("funnel_depth")
          .agg(count(lit(1)).as("n_users"))
          .orderBy("funnel_depth")
      },
      oracle = Some(graft.operators.Windows.funnelOracleSql)),

    // ------------------ streaming point-in-time feature serving (2 opts/user)
    // q_join_pit as a continuous pipeline: each click emits enriched
    // with the latest per-group feature values the instant it arrives,
    // instead of re-joining history — the online feature-store serving
    // shape. State is two optional doubles per user; the batch oracle
    // is shared verbatim, so a time-ordered replay through the stateful
    // operator must reproduce the window form row for row.
    "q_stream_pit" -> GraftQuery(
      run = (s, d) => {
        val enriched = pitStream(s, d, Some("events.parquet"))
        runToMemory(s, enriched, "graft_stream_pit", OutputMode.Append())
          .orderBy("event_id")
      },
      oracle = Some(graft.operators.Joins.pitOracleSql)),

    // --------------------------- arbitrary stateful: gap-based sessionization
    // mapGroupsWithState holds one UserSessions row per user; a 30-minute
    // event-time gap opens a new session.
    "q_stream_sessionize" -> GraftQuery(
      run = (s, d) => {
        val sessions = sessionizeStream(s, d, Some("events.parquet"))
        runToMemory(s, sessions, "graft_stream_sessions", OutputMode.Update())
          .orderBy("user_id")
      },
      oracle = Some(sessionOracleSql)),

    // ------------------- streaming anomaly gate (trailing-ring state)
    // The batch z-score gate (q_window_anomaly) as a continuous
    // pipeline: per-user state is the trailing ≤ 20 centi-values, each
    // arriving event is scored against its own recent history with the
    // identical integer z-test, and flags emit in Append mode as they
    // fire — monitoring that keeps up with ingestion instead of
    // re-scanning it. Shares the batch form's oracle verbatim: a
    // time-ordered replay through the stateful operator must not move
    // a single flagged row. EventStreamsSpec drives the ring across
    // micro-batch boundaries.
    "q_stream_anomaly" -> GraftQuery(
      run = (s, d) => {
        val flagged = anomalyStream(s, d, Some("events.parquet"))
        runToMemory(s, flagged, "graft_stream_anomaly", OutputMode.Append())
          .orderBy("user_id", "us", "event_id")
      },
      oracle = Some(graft.operators.Windows.anomalyOracleSql)),

    // --------------- sessionization on the arbitrary-state API (Spark 4)
    // The same per-user sessionizer expressed with transformWithState +
    // ValueState — the engine's current-generation stateful API (typed
    // state handles, timers, TTL; requires the RocksDB provider). Shares
    // q_stream_sessionize's oracle verbatim: migrating stateful code
    // from mapGroupsWithState to a StatefulProcessor must not move a
    // single row.
    "q_stream_tws_sessionize" -> GraftQuery(
      run = (s, d) => {
        import s.implicits._
        val key = "spark.sql.streaming.stateStore.providerClass"
        val prev = s.conf.getOption(key)
        s.conf.set(key,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try {
          val sessions = twsSessionStream(s, d, Some("events.parquet"))
          runToMemory(s, sessions, "graft_stream_tws_sessions",
            OutputMode.Update()).orderBy("user_id")
        } finally prev match {
          case Some(v) => s.conf.set(key, v)
          case None => s.conf.unset(key)
        }
      },
      oracle = Some(sessionOracleSql)),

    // ----------------- session timeout via EVENT-TIME timers (Spark 4)
    // Emission driven by handleExpiredTimer, not by data: a user's open
    // session emits only when the watermark passes (last event + 30
    // min) — the "user went quiet" push notification, the part of the
    // arbitrary-state API the sessionizer pair doesn't exercise. Under
    // AvailableNow the data batch arms one timer per user and the
    // no-data batch fires every timer at or below the final watermark
    // (min-of-sources max event time − 10 min). The oracle replays the
    // same rule: each user's LAST session emits iff its timer (ms)
    // clears the reconstructed final watermark; users still "active"
    // at end-of-stream stay silent.
    "q_stream_session_timeout" -> GraftQuery(
      run = (s, d) => {
        val key = "spark.sql.streaming.stateStore.providerClass"
        val prev = s.conf.getOption(key)
        s.conf.set(key,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try {
          val closed = sessionTimeoutStream(s, d, Some("events.parquet"))
          // needsNoDataBatch: emission is driven PURELY by event-time
          // timers firing in the post-data empty batch (oracle-pinned)
          runToMemory(s, closed, "graft_stream_session_timeout",
            OutputMode.Append(), needsNoDataBatch = true).orderBy("user_id")
        } finally prev match {
          case Some(v) => s.conf.set(key, v)
          case None => s.conf.unset(key)
        }
      },
      oracle = Some("""
        WITH marked AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                        IS NULL
                      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                        > INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS new_session
          FROM events),
        sessions AS (
          SELECT user_id, ts,
                 sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS session_id
          FROM marked),
        lastsess AS (
          SELECT user_id, count(*) AS closed_len,
                 max(epoch_us(ts)) AS last_ts_us
          FROM sessions s
          WHERE session_id = (SELECT max(session_id) FROM sessions
                              WHERE user_id = s.user_id)
          GROUP BY user_id),
        wm AS (SELECT max(epoch_us(ts)) // 1000 - 600000 AS w_ms
               FROM events)
        SELECT user_id, closed_len, last_ts_us
        FROM lastsess CROSS JOIN wm
        WHERE last_ts_us // 1000 + 1800000 <= w_ms
        ORDER BY user_id""")),

    // --------------------------- RocksDB-backed stateful aggregation
    // The tumbling-window aggregate run on the RocksDB state store —
    // the production backend for 100 TB/day streams, where keyed state
    // outgrows the default in-memory (HDFS-backed) provider's executor
    // heap. Same query, same oracle as q_stream_tumbling: the state
    // backend must be a pure operational choice with zero semantic
    // drift, and this entry pins exactly that.
    "q_stream_rocksdb" -> GraftQuery(
      run = (s, d) => {
        val key = "spark.sql.streaming.stateStore.providerClass"
        val prev = s.conf.getOption(key)
        s.conf.set(key,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try {
          val stream = eventStream(s, d)
            .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
            .withWatermark("event_time", "10 minutes")
            .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
            .agg(count(lit(1)).as("n"),
              round(sum(col("value")), 4).as("sum_value"))
            .select(
              date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
                .as("hour"),
              col("event_type"), col("n"), col("sum_value"))
          runToMemory(s, stream, "graft_stream_rocksdb", OutputMode.Update())
            .orderBy("hour", "event_type")
        } finally prev match {
          case Some(v) => s.conf.set(key, v)
          case None => s.conf.unset(key)
        }
      },
      oracle = Some("""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
               event_type, count(*) AS n, round(sum(value), 4) AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ------------------------------- stream-static enrichment join
    // The production "enrich events against a dimension" shape: a
    // batch-computed per-type profile (here: average value) broadcast
    // into the stream — NO streaming state, no watermark needed; each
    // micro-batch map-side joins the static side. At 100 TB/day the
    // static side refreshes per batch via foreachBatch; the stream
    // never shuffles before the final aggregate.
    // "above average" decided by exact integer cross-multiplication
    // (value_c · n > Σvalue_c on the centi grid), NOT value > avg(value):
    // a float average is a nondeterministically-ordered double sum on
    // both engines, and a per-row knife-edge comparison against it is
    // exactly the cross-engine hazard every other query here moves onto
    // integer grids to exclude. The displayed average derives from the
    // same exact integers (one division, then round) so it too is
    // order-independent.
    "q_stream_static_join" -> GraftQuery(
      run = (s, d) => {
        val typeAvg = graft.Tables.events(s, d)
          .groupBy(col("event_type"))
          .agg(sum(expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)"))
              .as("sum_c"),
            count(lit(1)).as("n_dim"))
        val enriched = eventStream(s, d)
          .withColumn("value_c",
            expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)"))
          .join(broadcast(typeAvg), Seq("event_type"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_total"),
            // OVERFLOW ENVELOPE: value_c · n_dim runs in int64. Under
            // this deployment's defaults (Spark 4.x ANSI mode on, no
            // ansi.enabled override anywhere in the repo) BOTH engines
            // raise on BIGINT overflow — loud, not a silent-wrap
            // divergence — so this bound documents when the query is
            // SAFE, not a cross-engine hazard: max|value|·100 ·
            // rows-per-type < 2^63 ≈ 9.2e18
            // (e.g. values ≤ 10⁶ up to ~92 G rows per type). Same
            // envelope class as q_text_auc's rank-sum numerator, which
            // moved to DECIMAL(38,0); here the bound is ~10⁴× looser
            // than any realistic per-type stream, so it is documented
            // rather than paid for with decimal arithmetic per row.
            count(when(col("value_c") * col("n_dim") > col("sum_c"),
              lit(1))).as("n_above_avg"),
            // CAST first: a bare 100.0 literal is DECIMAL in BOTH
            // engines' parsers, and decimal division would dump as
            // pandas `object` vs the oracle's float64
            round(max(expr("CAST(sum_c AS DOUBLE) / 100.0 / n_dim")), 4)
              .as("type_avg"))
        runToMemory(s, enriched, "graft_stream_static_join",
          OutputMode.Complete())
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH ta AS (SELECT event_type,
                           sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
                             AS sum_c,
                           count(*) AS n_dim
                    FROM events GROUP BY event_type)
        SELECT e.event_type, count(*) AS n_total,
               count(*) FILTER (
                 WHERE CAST(floor(e.value * 100.0 + 0.5) AS BIGINT)
                         * ta.n_dim > ta.sum_c) AS n_above_avg,
               round(max(CAST(ta.sum_c AS DOUBLE) / 100.0 / ta.n_dim), 4)
                 AS type_avg
        FROM events e JOIN ta ON ta.event_type = e.event_type
        GROUP BY e.event_type ORDER BY e.event_type"""))
  )
}
