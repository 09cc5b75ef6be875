package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The StoreBuilds ledger is what makes BENCH_BUILDS / the metric
  * line's `builds` map trustworthy — pin its attribution contract:
  * per-store accumulation, nesting (an inner stage resolved BEFORE an
  * outer store must not double-count into it), and that a store HIT
  * never touches the ledger. Also pins the store's lifetime: entries
  * are dropped when their session stops.
  */
class StoreBuildsSpec extends AnyFunSuite with Matchers with SparkSuite {

  private def spin(ms: Long): Unit = {
    val end = System.nanoTime() + ms * 1000000L
    while (System.nanoTime() < end) {}
  }

  test("timed records per-store wall-clock and accumulates across builds") {
    StoreBuilds.clear()
    // the same store name for two dataset dirs: two builds, one entry
    StoreBuilds.cached(spark, "d1", "spec_a") { spin(30) }
    StoreBuilds.cached(spark, "d2", "spec_a") { spin(30) }
    StoreBuilds.cached(spark, "d1", "spec_b") { spin(10) }
    val m = StoreBuilds.snapshot.toMap
    m("spec_a") should be >= 0.055
    m("spec_b") should be >= 0.009
    m("spec_b") should be < m("spec_a")
    StoreBuilds.clear()
  }

  test("resolve-inner-first keeps nested stage builds from double-counting") {
    StoreBuilds.clear()
    // the MsPipeline/GraphOps pattern: the inner store resolves before
    // the outer store's build, so the outer entry carries ONLY its own
    // work — the misattribution this prevents is the outer store
    // absorbing the inner build on a shared cold path
    def inner(): Long =
      StoreBuilds.cached(spark, "n", "spec_inner") { spin(60); 1L }
    def outer(): Long = {
      val i = inner() // resolved BEFORE the outer build is timed
      StoreBuilds.cached(spark, "n", "spec_outer") { spin(20); i + 1 }
    }
    outer() shouldBe 2L
    val m = StoreBuilds.snapshot.toMap
    m("spec_inner") should be >= 0.055
    // the outer entry must NOT contain the inner's ~60 ms. RELATIVE
    // bound, not an absolute 55 ms cap: on a preempted CI box the
    // outer 20 ms spin can legitimately stretch past any fixed cap,
    // but absorbing the inner build would push it past the inner's
    // own (equally-stretched) wall-clock — the misattribution, not
    // scheduler jitter, is what fails this
    m("spec_outer") should be < m("spec_inner")
    // a build that resolves another store INSIDE itself re-enters the
    // store's map, which must not throw
    StoreBuilds.cached(spark, "n", "spec_reenter") {
      StoreBuilds.cached(spark, "n", "spec_reenter_inner")(3L) + 1
    } shouldBe 4L
    StoreBuilds.clear()
  }

  test("a cache hit never touches the ledger") {
    StoreBuilds.clear()
    var builds = 0
    def get(): Long =
      StoreBuilds.cached(spark, "h", "spec_hit") { builds += 1; spin(20); 7L }
    get() shouldBe 7L
    val after1 = StoreBuilds.snapshot.toMap.apply("spec_hit")
    get() shouldBe 7L
    builds shouldBe 1
    StoreBuilds.snapshot.toMap.apply("spec_hit") shouldBe after1
    StoreBuilds.clear()
  }

  /** Spark jobs started by `body` outside a SQL execution: a
    * DataFrame action's jobs carry its execution id, a parquet schema
    * inference's jobs do not. */
  private def jobsOutsideSql(body: => Unit): Int =
    Metrics.measure(spark)(body)._2.jobsOutsideSql

  test("resumable appends only the missing rows and reads the store with its schema") {
    val path = java.nio.file.Files.createTempDirectory("graft-resumable").toString + "/store"
    val schema = StructType.fromDDL("id BIGINT, v STRING")
    def upTo(n: Long)(done: Option[DataFrame]): DataFrame = {
      val all = spark.range(n).select(col("id"), col("id").cast("string").as("v"))
      done.fold(all)(all.join(_, Seq("id"), "left_anti"))
    }
    var seen = Seq.empty[Option[Long]]
    def run(n: Long): DataFrame =
      StoreBuilds.resumable(spark, path, schema, Seq("id")) { done =>
        seen :+= done.map(_.count())
        upTo(n)(done)
      }
    run(3).count() shouldBe 3
    val back = run(5)
    back.count() shouldBe 5
    back.select("id").distinct().count() shouldBe 5
    seen shouldBe Seq(None, Some(3L))
    // the read-back schema is the one the files carry
    back.schema shouldBe spark.read.parquet(path).schema
    // a resume over a complete store runs its append and nothing else:
    // neither the key read nor the read-back infers a schema
    jobsOutsideSql(run(5).count() shouldBe 5) shouldBe 0
    // the counter sees an inference: a schema-less read runs one
    jobsOutsideSql(spark.read.parquet(path)) should be >= 1
    an[IllegalArgumentException] should be thrownBy
      StoreBuilds.resumable(spark, path, schema, Seq("id"))(_ => spark.range(1).toDF())
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path).getParentFile)
  }

  test("a stopped session's stores are gone") {
    spark.stop()
    val s = Sessions.local(1)
    val app = s.sparkContext.applicationId
    StoreBuilds.cached(s, "x", "spec_stop")(1L)
    val dir = StoreBuilds.scratchDir(s, "x", "graft-spec-stop")
    StoreBuilds.scratchDir(s, "x", "graft-spec-stop") shouldBe dir
    new java.io.File(dir).isDirectory shouldBe true
    StoreBuilds.entries(app) should be >= 2
    s.stop()
    StoreBuilds.entries(app) shouldBe 0
  }
}
