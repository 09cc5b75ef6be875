package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The StoreBuilds ledger is what makes BENCH_BUILDS / the metric
  * line's `builds` map trustworthy — pin its attribution contract:
  * per-store accumulation, nesting (an inner stage resolved BEFORE an
  * outer store must not double-count into it), and that a store HIT
  * never touches the ledger. Also pins the store's lifetime: entries
  * are dropped when their session stops.
  */
class StoreBuildsSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[1]").appName("store-builds")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

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

  test("a stopped session's stores are gone") {
    val app = spark.sparkContext.applicationId
    StoreBuilds.cached(spark, "x", "spec_stop")(1L)
    val dir = StoreBuilds.scratchDir(spark, "x", "graft-spec-stop")
    StoreBuilds.scratchDir(spark, "x", "graft-spec-stop") shouldBe dir
    new java.io.File(dir).isDirectory shouldBe true
    StoreBuilds.entries(app) should be >= 2
    spark.stop()
    StoreBuilds.entries(app) shouldBe 0
  }
}
