package graft.streaming

import graft.SparkSuite
import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The registry query exercises the single-batch replay (oracle-checked);
  * this spec drives the streaming MinHash dedup across MULTIPLE
  * micro-batches (maxFilesPerTrigger=1) to prove the band-key state
  * carry: a document arriving in a LATER batch must be flagged against
  * the canonical that claimed its band keys in an earlier batch —
  * first-arrival-wins, even when the late arrival has a smaller id. */
class DocStreamsSpec extends AnyFunSuite with Matchers with SparkSuite {

  test("band-key state carries across micro-batches, first arrival wins") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-docstream").toString
    val text = "the quick brown fox jumps over the lazy dog again"
    def doc(id: Long, t: String) = (id, t, "en", "spec", t.length.toLong)
    // batch 1: docs 10 and 11 share every band key (identical text);
    // doc 20 is unrelated
    Seq(doc(10L, text), doc(11L, text),
      doc(20L, "completely different words in this one here now"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(1).write.mode(SaveMode.Append).parquet(dir)
    // batch 2 (separate file): doc 5 repeats the text — SMALLER id
    // arriving LATER must still be flagged against canonical 10
    Seq(doc(5L, text))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(1).write.mode(SaveMode.Append).parquet(dir)

    val q = DocStreams
      .minhashPartnerStream(spark, dir, "*.parquet",
        maxFilesPerTrigger = Some(1))
      .writeStream.queryName("graft_docstream_spec").format("memory")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val pairs = spark.table("graft_docstream_spec")
      .select("doc_id", "partner").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // doc 11 flagged in batch 1, doc 5 flagged in batch 2 — both
    // against 10 (the first claimant); doc 20 never flagged
    pairs shouldBe Set((11L, 10L), (5L, 10L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("a doc re-delivered within ONE batch never pairs with itself") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-docstream-redeliver").toString
    val text = "the quick brown fox jumps over the lazy dog again"
    def doc(id: Long, t: String) = (id, t, "en", "spec", t.length.toLong)
    // at-least-once delivery: the SAME doc lands twice (two files, one
    // AvailableNow batch) on an UNCLAIMED band key — the canonical must
    // not be reported as a near-dup of itself
    Seq(doc(7L, text))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(1).write.mode(SaveMode.Append).parquet(dir)
    Seq(doc(7L, text))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(1).write.mode(SaveMode.Append).parquet(dir)

    val q = DocStreams
      .minhashPartnerStream(spark, dir, "*.parquet") // one batch
      .writeStream.queryName("graft_docstream_redeliver").format("memory")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    spark.table("graft_docstream_redeliver").collect() shouldBe empty
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
