package graft.sources

import graft.SparkSuite
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Streaming mzML ingestion parity: the same toy files produce the same
  * per-(sample, level) peak counts and intensity sums whether read with
  * the batch source or discovered by the streaming file source — and a
  * file landing AFTER the first micro-batch is picked up incrementally
  * by the next one, which is the property that makes the source a
  * continuous-ingestion path rather than a batch re-list. */
class MzMLStreamSpec extends AnyFunSuite with Matchers with SparkSuite {

  private val scanDir = "/root/reference/test/test_experiment/samples/scans_mzml"
  private val files = Seq(s"$scanDir/scan1.mzML", s"$scanDir/scan2.mzML")
  private def haveToyData = new java.io.File(files.head).isFile

  private def summarize(ds: org.apache.spark.sql.Dataset[RawPeak]) =
    ds.groupBy(col("file"), col("level"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("intensity")), 2).as("sum_i"))

  test("streaming ingestion matches the batch source on the toy files") {
    assume(haveToyData)
    val landing = Files.createTempDirectory("graft_mzml_landing")
    try {
      // stage only the FIRST file; the second lands mid-stream below
      Files.copy(Paths.get(files.head),
        landing.resolve("scan1.mzML"), StandardCopyOption.REPLACE_EXISTING)

      val ws = MzMLSource.deriveWindowsLocal(files.head)
      val stream = summarize(
        MzMLSource.readStream(spark, landing.toString, ws))
      val q = stream.writeStream
        .format("memory").queryName("mzml_stream")
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000) shouldBe true

      val firstBatch = spark.table("mzml_stream")
        .select("file").distinct().collect().map(_.getString(0)).sorted
      firstBatch shouldBe Array("scan1")

      // second file lands; a fresh AvailableNow pass drains the backlog
      Files.copy(Paths.get(files(1)),
        landing.resolve("scan2.mzML"), StandardCopyOption.REPLACE_EXISTING)
      val q2 = summarize(MzMLSource.readStream(spark, landing.toString, ws))
        .writeStream
        .format("memory").queryName("mzml_stream2")
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q2.awaitTermination(120000) shouldBe true

      val streamed = spark.table("mzml_stream2")
        .orderBy("file", "level").collect().map(_.toSeq)
      val batch = summarize(MzMLSource.read(spark, files, Some(ws)))
        .orderBy("file", "level").collect().map(_.toSeq)
      streamed shouldBe batch
    } finally {
      landing.toFile.listFiles().foreach(_.delete())
      Files.deleteIfExists(landing)
    }
  }
}
