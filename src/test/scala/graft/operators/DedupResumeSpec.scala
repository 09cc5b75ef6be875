package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Snakemake-parity resume for the band-index store: a partial store +
  * a full-corpus call must band ONLY the missing documents and append —
  * the same contract MsResumeSpec pins for the ms chain's tensor/model/
  * count stores, here for the dedup signature index (the artifact a
  * 100 TB ingestion pipeline materializes once per batch). */
class DedupResumeSpec extends AnyFunSuite with Matchers with SparkSuite {

  private def docs(n: Int) = {
    import spark.implicits._
    (0 until n).map(i =>
      (i.toLong, s"alpha bravo charlie delta doc$i echo foxtrot"))
      .toDF("doc_id", "text")
  }

  test("a resumed run bands only the missing documents and appends") {
    val store = java.nio.file.Files
      .createTempDirectory("graft-band-resume").toString + "/store"

    // increment 1: docs 0..4
    val s1 = Dedup.bandIndexResumable(spark, docs(5), store)
    val n1 = s1.count()
    n1 shouldBe 5L * 4 // 4 bands per doc
    // increment 2: docs 0..9 — 0..4 already indexed, only 5 new
    val s2 = Dedup.bandIndexResumable(spark, docs(10), store)
    s2.count() shouldBe 10L * 4
    // the first increment's rows were NOT recomputed: doc 0..4 rows
    // appear exactly once each
    s2.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .filter(col("n") =!= 4).count() shouldBe 0L
    // increment 3: same corpus — nothing to do, store unchanged
    Dedup.bandIndexResumable(spark, docs(10), store).count() shouldBe 10L * 4
  }

  test("a document duplicated WITHIN one increment is banded exactly once") {
    // the store anti-join can't see intra-batch duplicates (a
    // re-delivered file landing next to the original before the
    // trigger); the kernel must dedup the batch itself or the store is
    // permanently corrupted
    val store = java.nio.file.Files
      .createTempDirectory("graft-band-dupbatch").toString + "/store"
    val withDup = docs(4).unionByName(docs(4).filter(col("doc_id") === 2))
    val s1 = Dedup.bandIndexResumable(spark, withDup, store)
    s1.count() shouldBe 4L * 4
    s1.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .filter(col("n") =!= 4).count() shouldBe 0L
  }

  test("streaming upsert across MULTIPLE micro-batches converges on the same store") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // two parquet files + maxFilesPerTrigger=1 → two micro-batches; an
    // overlapping doc (id 2 in both files) exercises the idempotence
    // leg: at-least-once delivery + anti-join resume = banded once
    val dir = java.nio.file.Files
      .createTempDirectory("graft-stream-resume").toString
    docs(3).write.parquet(s"$dir/land/f1.parquet")
    docs(6).filter(col("doc_id") >= 2)
      .write.parquet(s"$dir/land/f2.parquet")
    val store = s"$dir/store"
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      // the landing "files" are parquet DIRECTORIES (write.parquet
      // output); the file source lists only top-level files without this
      .option("recursiveFileLookup", "true")
      .parquet(s"$dir/land")
      .writeStream
      .foreachBatch {
        (b: org.apache.spark.sql.DataFrame, _: Long) =>
          Dedup.bandIndexResumable(spark, b, store): Unit
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val viaStream = spark.read.parquet(store)
      .select("doc_id", "band", "key")
      .as[(Long, Int, String)].collect().sorted
    val direct = Dedup.minhashBandRows(
        Dedup.shingleSets(docs(6)).as[(Long, Seq[String])])
      .collect().sorted
    viaStream shouldBe direct
  }

  test("the store equals a from-scratch banding regardless of increments") {
    import spark.implicits._
    val store = java.nio.file.Files
      .createTempDirectory("graft-band-resume2").toString + "/store"
    Dedup.bandIndexResumable(spark, docs(3), store)
    val viaStore = Dedup.bandIndexResumable(spark, docs(8), store)
      .select("doc_id", "band", "key")
      .as[(Long, Int, String)].collect().sorted
    val direct = Dedup.minhashBandRows(
        Dedup.shingleSets(docs(8)).as[(Long, Seq[String])])
      .collect().sorted
    viaStore shouldBe direct
  }
}
