package graft.streaming

import graft.SparkSuite
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Checkpoint restart semantics: a streaming pipeline that stops and
  * restarts against the same checkpoint must process each input file
  * exactly once — no reprocessing of already-committed batches, no
  * loss of newly-arrived ones. This is the property that makes the
  * landing-directory ingestion pattern (q_ms streaming, event streams)
  * safe to operate: crashes and redeploys are the NORMAL case at
  * 100 TB/day. */
class StreamRestartSpec extends AnyFunSuite with Matchers with SparkSuite {

  test("restart from checkpoint processes new files exactly once") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-restart").toString
    val in = s"$root/in"; val out = s"$root/out"; val ck = s"$root/ck"
    def writeBatch(ids: Range): Unit =
      ids.map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .coalesce(1).write.mode("append").parquet(in)
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema("id LONG, v STRING").parquet(in)
        .withColumn("flag", col("id") % 2)
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    writeBatch(0 until 100)
    writeBatch(100 until 200)
    runOnce() // first deployment: two input files committed
    writeBatch(200 until 300)
    runOnce() // "redeploy": only the new file may be processed
    val got = spark.read.parquet(out)
    got.count() shouldBe 300L
    // exactly once: every id present, none duplicated
    got.groupBy("id").count().filter(col("count") =!= 1).count() shouldBe 0L
    got.agg(sum(col("id"))).head().getLong(0) shouldBe (0L until 300L).sum
  }

  private val minNs = 60L * 1000000000L // one minute on the ns grid

  private def writeEvents(
      dir: String, rows: Seq[(Long, Long, Long, String, Double, String)])
      : Unit = {
    import spark.implicits._
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(1).write.mode("append").parquet(dir)
  }

  /** Drive a stream builder over `dir` to a parquet sink at `out` with
    * checkpoint `ck`, AvailableNow, one file per micro-batch. */
  private def runStream(
      mk: => org.apache.spark.sql.DataFrame, out: String, ck: String): Unit = {
    val q = mk.writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", ck)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  test("anomaly ring state survives a kill/restart at a batch boundary") {
    // q_stream_anomaly's per-user trailing ring lives in the state
    // store. A redeploy between micro-batches must CARRY it: the first
    // wave-2 event is scored against wave-1 history (n_prior = 10),
    // which a state-rebuilt-from-scratch restart could never produce
    // (the z-gate's warm-up needs n ≥ 8 and wave 2 alone has 0 prior).
    val root = Files.createTempDirectory("graft-restart-anom").toString
    val wave1 = (1 to 10).map(i => (i.toLong, i.toLong * minNs, 1L,
      "click", if (i % 2 == 1) 10.0 else 20.0, "{}"))
    val wave2 = Seq(
      (11L, 11L * minNs, 1L, "click", 1000.0, "{}"), // outlier vs wave-1 ring
      (12L, 12L * minNs, 1L, "click", 15.0, "{}"))

    // deployment with a kill/redeploy between the waves
    val in1 = s"$root/in1"
    writeEvents(in1, wave1)
    runStream(EventStreams.anomalyStream(spark, in1,
      maxFilesPerTrigger = Some(1)), s"$root/out1", s"$root/ck1")
    writeEvents(in1, wave2)
    runStream(EventStreams.anomalyStream(spark, in1,
      maxFilesPerTrigger = Some(1)), s"$root/out1", s"$root/ck1")

    // reference deployment: same input, no restart
    val in2 = s"$root/in2"
    writeEvents(in2, wave1)
    writeEvents(in2, wave2)
    runStream(EventStreams.anomalyStream(spark, in2,
      maxFilesPerTrigger = Some(1)), s"$root/out2", s"$root/ck2")

    val restarted = spark.read.parquet(s"$root/out1")
      .orderBy("event_id").collect()
    val single = spark.read.parquet(s"$root/out2")
      .orderBy("event_id").collect()
    restarted shouldBe single
    // the cross-boundary proof: flagged with the PRE-restart history
    restarted.length shouldBe 1
    restarted.head.getAs[Long]("event_id") shouldBe 11L
    restarted.head.getAs[Long]("n_prior") shouldBe 10L
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("event-time timers and session state survive a kill/restart") {
    // q_stream_session_timeout arms one event-time timer per user. A
    // redeploy must restore BOTH the ValueState and the registered
    // timer from the checkpoint: user 1's session closes in the
    // restarted run — triggered by user 2's much-later events advancing
    // the watermark past a timer that was armed BEFORE the kill — with
    // the session length accumulated before the kill. Exactly once.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val root = Files.createTempDirectory("graft-restart-timer").toString
      // user 1: 5 events, minutes 100–104 (off epoch: a minute-0 event
      // would sit AT the initial watermark and be dropped as late) →
      // timer at min 104 + 30 = 134; wave-1 watermark tops out at
      // 104 − 10 = 94 < 134 → no emission yet
      val wave1 = (0 until 5).map(i => (i.toLong + 1L,
        (100L + i.toLong) * minNs, 1L, "click", 1.0, "{}"))
      // user 2 at minute 240 → watermark 230 > 134 → user 1's timer
      // fires in the restarted run; user 2's own timer (270) stays armed
      val wave2 = Seq((100L, 240L * minNs, 2L, "click", 1.0, "{}"))

      val in1 = s"$root/in1"
      writeEvents(in1, wave1)
      runStream(EventStreams.sessionTimeoutStream(spark, in1),
        s"$root/out1", s"$root/ck1")
      spark.read.parquet(s"$root/out1").count() shouldBe 0L // still open
      writeEvents(in1, wave2)
      runStream(EventStreams.sessionTimeoutStream(spark, in1),
        s"$root/out1", s"$root/ck1")

      // reference deployment: same input, no restart
      val in2 = s"$root/in2"
      writeEvents(in2, wave1)
      writeEvents(in2, wave2)
      runStream(EventStreams.sessionTimeoutStream(spark, in2,
        maxFilesPerTrigger = Some(1)), s"$root/out2", s"$root/ck2")

      val restarted = spark.read.parquet(s"$root/out1")
        .orderBy("user_id").collect()
      val single = spark.read.parquet(s"$root/out2")
        .orderBy("user_id").collect()
      restarted shouldBe single
      restarted.length shouldBe 1 // exactly once, user 2 still active
      restarted.head.getAs[Long]("user_id") shouldBe 1L
      restarted.head.getAs[Int]("closed_len") shouldBe 5
      restarted.head.getAs[Long]("last_ts_us") shouldBe 104L * 60L * 1000000L
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
