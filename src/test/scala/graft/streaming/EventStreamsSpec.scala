package graft.streaming

import graft.SparkSuite
import java.nio.file.Files
import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The registry queries exercise the single-batch path; this spec drives
  * the sessionizer across MULTIPLE micro-batches (maxFilesPerTrigger=1)
  * to prove the GroupState carry: an open session must continue across a
  * batch boundary, a >30-min gap must still split. */
class EventStreamsSpec extends AnyFunSuite with Matchers with SparkSuite {

  private val minNs = 60L * 1000000000L

  test("session state carries across micro-batches") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream").toString
    // batch 1: user 1 events at t=0,5min (one open session)
    Seq((1L, 0L * minNs, 1L, "click", 1.0, "{}"),
      (2L, 5L * minNs, 1L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(1).write.mode(SaveMode.Append).parquet(dir)
    // batch 2 (separate file): continuation at 10min (same session),
    // then a 90-min gap → second session
    Seq((3L, 10L * minNs, 1L, "click", 1.0, "{}"),
      (4L, 100L * minNs, 1L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(1).write.mode(SaveMode.Append).parquet(dir)

    val q = EventStreams
      .sessionizeStream(spark, dir, maxFilesPerTrigger = Some(1))
      .writeStream.queryName("graft_stream_spec").format("memory")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // memory sink in update mode appends one row per key per batch;
    // the LAST row for user 1 is the final state
    val rows = spark.table("graft_stream_spec").collect()
    rows.length should be >= 1
    val last = rows.last
    last.getAs[Long]("user_id") shouldBe 1L
    last.getAs[Int]("n_sessions") shouldBe 2
    last.getAs[Int]("n_events") shouldBe 4
    last.getAs[Int]("longest_session") shouldBe 3
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("transformWithState carries ValueState across micro-batches") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream-tws").toString
    Seq((1L, 0L * minNs, 1L, "click", 1.0, "{}"),
      (2L, 5L * minNs, 1L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(1).write.mode(SaveMode.Append).parquet(dir)
    Seq((3L, 10L * minNs, 1L, "click", 1.0, "{}"),
      (4L, 100L * minNs, 1L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(1).write.mode(SaveMode.Append).parquet(dir)

    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = EventStreams
        .twsSessionStream(spark, dir, maxFilesPerTrigger = Some(1))
        .writeStream.queryName("graft_stream_tws_spec").format("memory")
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val rows = spark.table("graft_stream_tws_spec").collect()
      rows.length should be >= 1
      val last = rows.last
      last.getAs[Long]("user_id") shouldBe 1L
      last.getAs[Int]("n_sessions") shouldBe 2
      last.getAs[Int]("n_events") shouldBe 4
      last.getAs[Int]("longest_session") shouldBe 3
    } finally spark.conf.unset(key)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("funnel progress carries across micro-batches") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream-funnel").toString
    // batch 1: user 1 views; user 2 clicks (no view yet — must NOT
    // count: the funnel is ordered)
    Seq((1L, 10L * minNs, 1L, "view", 1.0, "{}"),
      (2L, 10L * minNs, 2L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(1).write.mode(SaveMode.Append).parquet(dir)
    // batch 2: user 1's click then purchase qualify against the CARRIED
    // t_view/t_click; user 2's view starts the funnel but its earlier
    // click never retro-qualifies
    Seq((3L, 20L * minNs, 1L, "click", 1.0, "{}"),
      (4L, 30L * minNs, 1L, "purchase", 1.0, "{}"),
      (5L, 20L * minNs, 2L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(1).write.mode(SaveMode.Append).parquet(dir)

    val q = EventStreams
      .funnelStream(spark, dir, maxFilesPerTrigger = Some(1))
      .writeStream.queryName("graft_stream_funnel_spec").format("memory")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // last emission per user wins (Update mode appends per batch);
    // depth is monotone, so max == last
    val fin = spark.table("graft_stream_funnel_spec")
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max("funnel_depth").as("d"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    fin(1L) shouldBe 3 // view(b1) → click(b2) → purchase(b2), carried
    fin(2L) shouldBe 1 // click-before-view never counts
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("PIT feature state carries across micro-batches") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream-pit").toString
    // batch 1: user 1 sees a view (feature A = 5.0) and an
    // equal-INSTANT click — the feature must be visible to it
    // (features sort before spine at the same µs); user 2 clicks with
    // no features yet (both nulls)
    Seq((1L, 10L * minNs, 1L, "view", 5.0, "{}"),
      (2L, 10L * minNs, 1L, "click", 0.0, "{}"),
      (3L, 10L * minNs, 2L, "click", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(1).write.mode(SaveMode.Append).parquet(dir)
    // batch 2: user 1's click must see batch 1's CARRIED view value
    // plus this batch's error value; a later view updates A for the
    // final click
    Seq((4L, 20L * minNs, 1L, "error", 7.5, "{}"),
      (5L, 21L * minNs, 1L, "click", 0.0, "{}"),
      (6L, 22L * minNs, 1L, "view", 9.25, "{}"),
      (7L, 23L * minNs, 1L, "click", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(1).write.mode(SaveMode.Append).parquet(dir)

    val q = EventStreams
      .pitStream(spark, dir, maxFilesPerTrigger = Some(1))
      .writeStream.queryName("graft_stream_pit_spec").format("memory")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.table("graft_stream_pit_spec").collect()
      .map(r => r.getAs[Long]("event_id") ->
        (Option(r.getAs[java.lang.Double]("last_view_value")),
          Option(r.getAs[java.lang.Double]("last_error_value")))).toMap
    rows(2L) shouldBe ((Some(5.0), None))   // same-instant feature visible
    rows(3L) shouldBe ((None, None))        // no features yet
    rows(5L) shouldBe ((Some(5.0), Some(7.5))) // view carried across batches
    rows(7L) shouldBe ((Some(9.25), Some(7.5)))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("anomaly ring carries across micro-batches") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream-anom").toString
    // batch 1: user 1, 10 events alternating 10.0/20.0 — builds a ring
    // with non-zero variance; none of these may flag (|z| ≈ 1)
    (1 to 10).map(i =>
        (i.toLong, i.toLong * minNs, 1L, "click",
          if (i % 2 == 1) 10.0 else 20.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(1).write.mode(SaveMode.Append).parquet(dir)
    // batch 2 (separate file): a wild outlier scored against batch 1's
    // ring — it must flag with the state built BEFORE the boundary —
    // then a normal reading that must not flag against the (now
    // outlier-containing) ring
    Seq((11L, 11L * minNs, 1L, "click", 1000.0, "{}"),
      (12L, 12L * minNs, 1L, "click", 15.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(1).write.mode(SaveMode.Append).parquet(dir)

    val q = EventStreams
      .anomalyStream(spark, dir, maxFilesPerTrigger = Some(1))
      .writeStream.queryName("graft_stream_anom_spec").format("memory")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.table("graft_stream_anom_spec").collect()
    rows.length shouldBe 1
    val r = rows.head
    r.getAs[Long]("user_id") shouldBe 1L
    r.getAs[Long]("event_id") shouldBe 11L
    r.getAs[Long]("v_centi") shouldBe 100000L
    r.getAs[Long]("n_prior") shouldBe 10L
    // hand-computed: S=15000, Q=2.5e7, d=10·Q−S²=2.5e7,
    // dev=10·100000−15000=985000, z²·1e3 = dev²·1e3/d = 38 809 000
    r.getAs[Long]("z2_ppk") shouldBe 38809000L
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
