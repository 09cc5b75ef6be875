package graft

import java.util.concurrent.CountDownLatch

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The collector's counting contract: exact per body, blind to other
  * threads' work and to a failed body's stragglers, with no wait for
  * the listener bus to go quiet. */
class MetricsSpec extends AnyFunSuite with Matchers with SparkSuite {

  private def sc = spark.sparkContext

  /** One RDD job of `parts` tasks, outside any SQL execution. */
  private def rddJob(parts: Int): Long = sc.parallelize(1 to 100, parts).count()

  test("a body of 3 jobs reads exactly 3 jobs, every time") {
    (1 to 20).foreach { i =>
      val (n, m) = Metrics.measure(spark) {
        rddJob(2) + rddJob(3) + rddJob(1)
      }
      withClue(s"measure $i: ") {
        n shouldBe 300L
        m.jobs shouldBe 3
        m.jobsOutsideSql shouldBe 3
        m.tasks shouldBe 6L
      }
    }
  }

  test("a DataFrame action's jobs run inside its SQL execution") {
    val (_, m) = Metrics.measure(spark)(spark.range(1000).selectExpr("id * 2").collect())
    m.jobs should be >= 1
    m.jobsOutsideSql shouldBe 0
  }

  test("a job another, untagged thread runs during the body is not counted") {
    val go = new CountDownLatch(1)
    // started before the measure, so it does not inherit the body's tag
    val other = new Thread(() => { go.await(); rddJob(4): Unit })
    other.start()
    val (_, m) = Metrics.measure(spark) {
      go.countDown()
      other.join()
      rddJob(1)
    }
    m.jobs shouldBe 1
    m.tasks shouldBe 1L
  }

  test("a groupBy writes shuffle bytes; a narrow map writes none") {
    val (_, wide) = Metrics.measure(spark) {
      spark.range(10000).groupBy(col("id") % 10).count().collect()
    }
    wide.shuffleWrite should be > 0L
    wide.shuffleRead should be > 0L
    val (_, narrow) = Metrics.measure(spark) {
      spark.range(10000).selectExpr("id * 2 AS x").collect()
    }
    narrow.shuffleWrite shouldBe 0L
    narrow.shuffleRead shouldBe 0L
  }

  test("a throwing body rethrows, and the next measure is still exact") {
    // the failing job's other tasks still run when the body throws;
    // their task-end events arrive later and must not land in the
    // next body's counters
    intercept[org.apache.spark.SparkException] {
      Metrics.measure(spark) {
        sc.parallelize(1 to 8, 8).map { i =>
          if (i == 1) throw new IllegalStateException("boom")
          Thread.sleep(300)
          i
        }.count()
      }
    }
    intercept[IllegalArgumentException] {
      Metrics.measure(spark)(throw new IllegalArgumentException("body"))
    }
    val (_, m) = Metrics.measure(spark)(rddJob(2) + rddJob(2))
    m.jobs shouldBe 2
    m.tasks shouldBe 4L
  }

  test("measures do not nest") {
    val e = intercept[IllegalStateException] {
      Metrics.measure(spark)(Metrics.measure(spark)(rddJob(1)))
    }
    e.getMessage should include("nest")
    Metrics.measure(spark)(rddJob(1))._2.jobs shouldBe 1
  }

  test("the record carries the body's store builds") {
    val (_, m) = Metrics.measure(spark) {
      StoreBuilds.cached(spark, "metrics-spec", "spec_metrics_store") {
        Thread.sleep(20); 1L
      }
    }
    m.builds.keySet shouldBe Set("spec_metrics_store")
    m.builds("spec_metrics_store") should be >= 0.015
    m.wallS should be >= m.builds("spec_metrics_store")
  }
}
