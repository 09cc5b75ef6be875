package graft

import java.nio.file.Files

import org.apache.spark.sql.types.{LongType, StructType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** `Tables.load` infers a table's schema once per session and file
  * status: a warm read starts no Spark job, a second dataset dir and a
  * table rewritten in place each get their own schema, and the memo
  * lives and dies with the session. Jobs are counted through
  * [[Metrics.measure]]. */
class TablesSpec extends AnyFunSuite with Matchers with SparkSuite {

  private def dataset(): String =
    Files.createTempDirectory("graft-tables").toString

  private def write(dir: String, name: String, sql: String*): Unit =
    spark.range(4).selectExpr(sql: _*).write.mode("overwrite")
      .parquet(s"$dir/$name.parquet")

  test("a table's schema is inferred by its first load only") {
    val d = dataset()
    write(d, "lineitem", "id AS l_orderkey", "CAST(id AS DOUBLE) AS l_quantity")
    val (first, m1) = Metrics.measure(spark)(Tables.lineitem(spark, d))
    m1.jobsOutsideSql shouldBe 1
    val (second, m2) = Metrics.measure(spark)(Tables.lineitem(spark, d))
    m2.jobs shouldBe 0
    second.schema shouldBe first.schema
    second.count() shouldBe 4
  }

  test("a second dataset dir gets its own schema") {
    val (a, b) = (dataset(), dataset())
    write(a, "lineitem", "id AS l_orderkey")
    write(b, "lineitem", "id AS l_orderkey", "CAST(id AS STRING) AS l_comment")
    Tables.lineitem(spark, a).columns shouldBe Array("l_orderkey")
    Tables.lineitem(spark, b).columns shouldBe Array("l_orderkey", "l_comment")
    Tables.lineitem(spark, a).columns shouldBe Array("l_orderkey")
  }

  test("a table rewritten in place reads back with its new schema") {
    val d = dataset()
    write(d, "orders", "id AS o_orderkey")
    Tables.orders(spark, d).schema shouldBe StructType.fromDDL("o_orderkey BIGINT")
    write(d, "orders", "CAST(id AS STRING) AS o_orderkey", "id * 2 AS o_custkey")
    val back = Tables.orders(spark, d)
    back.schema shouldBe StructType.fromDDL("o_orderkey STRING, o_custkey BIGINT")
    back.where("o_custkey = 6").select("o_orderkey").collect().map(_.getString(0)) shouldBe
      Array("3")
  }

  test("events.ts is normalised to ns when its schema comes from the memo") {
    val d = dataset()
    write(d, "events", "id AS event_id",
      "timestamp_micros(1700000000000000 + id) AS ts")
    Tables.events(spark, d).count() shouldBe 4
    val (warm, m) = Metrics.measure(spark)(Tables.events(spark, d))
    m.jobsOutsideSql shouldBe 0
    warm.schema("ts").dataType shouldBe LongType
    warm.orderBy("event_id").select("ts").collect().map(_.getLong(0)) shouldBe
      Array.tabulate(4)(i => (1700000000000000L + i) * 1000)
  }

  test("a stopped session's schemas are gone") {
    spark.stop()
    val s = Sessions.local(1)
    val app = s.sparkContext.applicationId
    val d = dataset()
    s.range(2).write.parquet(s"$d/region.parquet")
    Tables.region(s, d).count() shouldBe 2
    StoreBuilds.entries(app) shouldBe 1
    s.stop()
    StoreBuilds.entries(app) shouldBe 0
  }
}
