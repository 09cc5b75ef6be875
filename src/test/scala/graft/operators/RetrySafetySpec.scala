package graft.operators

import graft.SparkSuite
import org.apache.spark.TaskContext
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Task-retry safety: on a 1000-executor cluster tasks FAIL —
  * preemption, OOM-killed containers, flaky disks — and Spark
  * re-executes them. Every kernel must therefore be idempotent and
  * side-effect-free per partition. This spec injects a first-attempt
  * failure into a partition of the minhash signature kernel's input
  * and asserts the query still completes with the identical result. */
class RetrySafetySpec extends AnyFunSuite with Matchers with SparkSuite {

  private val sf = "/root/testdata/sf0.001"
  private def haveData = new java.io.File(s"$sf/documents.parquet").exists

  // local[4, 3]: 4 threads, 3 task-failure budget — retries enabled
  override protected def sessionOverrides =
    Map("spark.master" -> "local[4, 3]")

  test("minhash banding survives a task failure with identical output") {
    assume(haveData)
    import spark.implicits._
    def docs = spark.read.parquet(s"$sf/documents.parquet")
    def bands(flaky: Boolean) = {
      val sets = Dedup.shingleSets(docs).as[(Long, Seq[String])]
        .repartition(4)
      val input =
        if (flaky) sets.mapPartitions { it =>
          val tc = TaskContext.get()
          if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0)
            throw new RuntimeException("injected task failure (attempt 0)")
          it
        } else sets
      Dedup.minhashBandRows(input)
        .toDF("doc_id", "band", "key")
        .orderBy("doc_id", "band", "key")
        .collect().map(_.toSeq.map(String.valueOf)).toSeq
    }
    val clean = bands(flaky = false)
    val retried = bands(flaky = true)
    clean should not be empty
    retried shouldBe clean
  }

  test("the frame-pair kernel survives a task failure with identical output") {
    assume(haveData)
    import spark.implicits._
    // the typed groupByKey pair generator is the retry-sensitive part:
    // a re-executed pair-emission task must reproduce the same pairs
    def sigs = (0L until 60L).flatMap(d =>
      Seq((d, d % 7), (d, (d * 3) % 7))).toDF("doc_id", "sig")
    def pairs(flaky: Boolean) = {
      val base = sigs.repartition(4)
      val input =
        if (flaky) base.as[(Long, Long)].mapPartitions { it =>
          val tc = TaskContext.get()
          if (tc != null && tc.partitionId() == 1 && tc.attemptNumber() == 0)
            throw new RuntimeException("injected task failure (attempt 0)")
          it
        }.toDF("doc_id", "sig") else base
      Multimodal.framePairs(spark, input, maxDf = 100)
        .orderBy("d1", "d2")
        .collect().map(_.toSeq.map(String.valueOf)).toSeq
    }
    val clean = pairs(flaky = false)
    val retried = pairs(flaky = true)
    clean should not be empty
    retried shouldBe clean
  }
}
