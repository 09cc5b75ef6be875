package graft.operators

import java.nio.file.Files
import java.sql.Date

import graft.{SparkEntry, SparkSuite}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Golden semantics for q_scale_mv_maintain: one order each side of the
  * 1997-01-01 base/delta cut, hand-computed on the 1e4 revenue grid.
  * The registry oracle proves merged-partials == full-recompute at
  * sf0.01; this pins the grid arithmetic and the derived average on
  * values small enough to check by hand.
  */
class IncrementalViewSpec extends AnyFunSuite with Matchers
    with SparkSuite {

  test("base + delta partials merge to the hand-computed view") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-mv").toString
    Seq(
      (1L, Date.valueOf("1996-05-15"), "1-URGENT"), // base side
      (2L, Date.valueOf("1997-03-02"), "1-URGENT")) // delta side
      .toDF("o_orderkey", "o_orderdate", "o_orderpriority")
      .write.parquet(s"$dir/orders.parquet")
    Seq(
      (1L, 100.0, 0.10), // 90.00   → 900000 micro
      (1L, 50.0, 0.00),  // 50.00   → 500000
      (2L, 10.0, 0.25))  //  7.50   →  75000
      .toDF("l_orderkey", "l_extendedprice", "l_discount")
      .write.parquet(s"$dir/lineitem.parquet")

    val out = SparkEntry.queries("q_scale_mv_maintain")(spark, dir)
      .collect()
      .map(r => (r.getAs[String]("ym"), r.getAs[String]("o_orderpriority"),
        r.getAs[Long]("n_items"), r.getAs[Long]("revenue_micro"),
        r.getAs[Long]("avg_item_micro")))
    out.toSeq shouldBe Seq(
      ("1996-05", "1-URGENT", 2L, 1400000L, 700000L),
      ("1997-03", "1-URGENT", 1L, 75000L, 75000L))
  }
}
