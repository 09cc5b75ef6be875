package graft.ms

import graft.SparkSuite
import graft.ms.ops.WindowOps
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The slice sink is the engine's storage contract at scale: Hive-style
  * (swath_key, rt_window) partitions so downstream per-slice stages read
  * exactly one directory per slice via partition pruning (the scan never
  * touches other slices' files). */
class WriteSlicesSpec extends AnyFunSuite with Matchers with SparkSuite {

  test("partitioned write round-trips and prunes on read") {
    import spark.implicits._
    val peaks = (0 until 1000).map { i =>
      (s"s${i % 2}", i % 7, 400.0f + (i % 3) * 40.0f, i * 0.6f, 10.0f * i)
    }.toDF("file", "rt_window", "swath_lower_adjusted", "rt", "intensity")
    val tagged = WindowOps.withSwathKey(peaks)
    val dir = Files.createTempDirectory("graft-slices").toString
    WindowOps.writeSlices(tagged, dir)

    // layout: one directory per (swath_key, rt_window); readSlices keeps
    // swath_key a string (the 2-dp key IS the identity)
    val back = WindowOps.readSlices(spark, dir)
    back.schema("swath_key").dataType.typeName shouldBe "string" 
    back.count() shouldBe 1000
    back.select("swath_key").distinct().count() shouldBe 3

    // partition pruning: a slice filter reaches the scan as a partition
    // filter and reads only that slice's files
    val one = back.filter(col("swath_key") === "440.00" && col("rt_window") === 3)
    val plan = one.queryExecution.executedPlan.toString
    plan should include("PartitionFilters")
    plan should include("440.00")
    val expected = tagged
      .filter(col("swath_key") === "440.00" && col("rt_window") === 3).count()
    one.count() shouldBe expected
    expected should be > 0L

    // pruned scan touches a single partition directory

    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("column swath key equals the typed tensorize-path key, incl. the " +
    "2.675 class where bround and exact-binary rounding disagree") {
    import spark.implicits._
    // 2.675 prints like a tie but its binary value sits BELOW it: exact
    // half-even gives "2.67" while bround-then-format gave "2.68". Also
    // a true dyadic tie (440.125 → "440.12") and plain values.
    val lowers = Seq(2.675, 440.125, 623.0, 639.5, 100.03125)
    val got = WindowOps.withSwathKey(lowers.toDF("swath_lower_adjusted"))
      .select("swath_lower_adjusted", "swath_key")
      .collect().map(r => r.getDouble(0) -> r.getString(1)).toMap
    lowers.foreach { v =>
      got(v) shouldBe graft.ms.ops.Tensorizer.swathKey(v)
    }
    got(2.675) shouldBe "2.67"
    got(440.125) shouldBe "440.12"
    got(100.03125) shouldBe "100.03"
  }

  test("windows CSV round-trips sorted distinct bounds") {
    import spark.implicits._
    val w = Seq((623.0, 640.0), (639.0, 656.0), (623.0, 640.0))
      .toDF("swath_lower_adjusted", "swath_upper_adjusted")
    val f = Files.createTempFile("graft-windows", ".csv").toString
    WindowOps.writeWindowsCsv(w, f)
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f)))
    text shouldBe "623.0,640.0\n639.0,656.0\n"
    val back = WindowOps.readWindowsCsv(spark, f).orderBy("swath_lower_adjusted")
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    back shouldBe Array((623.0, 640.0), (639.0, 656.0))
    java.nio.file.Files.delete(java.nio.file.Paths.get(f))
  }
}
