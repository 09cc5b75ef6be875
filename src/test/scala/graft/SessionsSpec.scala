package graft

import graft.functions.GraftExtensions
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Every main and spec builds its session through `Sessions.local`, so
  * pin the conf block it sets and that overrides win over it. Each test
  * owns (and stops) its session: static confs only apply to a fresh
  * context. */
class SessionsSpec extends AnyFunSuite with Matchers {

  test("local(cpus) sets the shared engine configuration") {
    val s = Sessions.local(3)
    try {
      s.sparkContext.master shouldBe "local[3]"
      s.conf.get("spark.sql.shuffle.partitions") shouldBe "3"
      s.conf.get("spark.sql.session.timeZone") shouldBe "UTC"
      s.conf.get("spark.sql.legacy.parquet.nanosAsLong") shouldBe "true"
      s.conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") shouldBe
        "true"
      s.sparkContext.getConf.get("spark.ui.enabled") shouldBe "false"
      s.sparkContext.uiWebUrl shouldBe None
    } finally s.stop()
  }

  test("overrides win, static confs included") {
    val s = Sessions.local(3, Map(
      "spark.master" -> "local[2]",
      "spark.sql.shuffle.partitions" -> "5",
      "spark.sql.extensions" -> classOf[GraftExtensions].getName))
    try {
      s.sparkContext.master shouldBe "local[2]"
      s.conf.get("spark.sql.shuffle.partitions") shouldBe "5"
      // the extension is installed, not just recorded: its function resolves
      s.sql("SELECT graft_cosine(array(1.0D, 2.0D), array(1.0D, 2.0D))")
        .head.getDouble(0) shouldBe 1.0 +- 1e-12
    } finally s.stop()
  }
}
