package graft.sources

import graft.SparkSuite
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Source/sink format parity beyond parquet: the same relation must
  * round-trip byte-exactly through ORC, JSON, and CSV (with explicit
  * schemas — inference is a correctness hazard at scale), and a corrupt
  * JSON landing file must degrade row-by-row under PERMISSIVE mode
  * instead of failing the scan — the data-lake ingestion contract. */
class FormatsSpec extends AnyFunSuite with Matchers with SparkSuite {

  private val sf = "/root/testdata/sf0.001"
  private def haveData = new java.io.File(s"$sf/nation.parquet").exists

  private def nation = spark.read.parquet(s"$sf/nation.parquet")
    .orderBy("n_nationkey")

  private def asRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy("n_nationkey").collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).toSeq

  test("ORC round-trip is exact") {
    assume(haveData)
    val dir = Files.createTempDirectory("graft-orc").toString
    nation.write.mode("overwrite").orc(s"$dir/nation.orc")
    val back = spark.read.orc(s"$dir/nation.orc")
    back.schema shouldBe nation.schema
    asRows(back) shouldBe asRows(nation)
  }

  test("JSON round-trip with explicit schema is exact") {
    assume(haveData)
    val dir = Files.createTempDirectory("graft-json").toString
    nation.write.mode("overwrite").json(s"$dir/nation.json")
    val back = spark.read.schema(nation.schema).json(s"$dir/nation.json")
    asRows(back) shouldBe asRows(nation)
  }

  test("CSV round-trip with explicit schema and header is exact") {
    assume(haveData)
    val dir = Files.createTempDirectory("graft-csv").toString
    nation.write.mode("overwrite").option("header", "true")
      .csv(s"$dir/nation.csv")
    val back = spark.read.schema(nation.schema)
      .option("header", "true").csv(s"$dir/nation.csv")
    asRows(back) shouldBe asRows(nation)
  }

  test("corrupt JSON rows land in _corrupt_record, good rows survive") {
    val dir = Files.createTempDirectory("graft-corrupt").toString
    val f = new java.io.PrintWriter(s"$dir/landing.json")
    f.println("""{"id": 1, "name": "ok"}""")
    f.println("""{"id": 2, "name": "also ok"}""")
    f.println("""{"id": 3, "name": NOT_JSON""")
    f.close()
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("_corrupt_record", StringType)))
    val df = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(s"$dir/landing.json")
      .cache() // SPARK-21610: corrupt-record queries need materialization
    df.count() shouldBe 3
    df.filter(col("_corrupt_record").isNull).count() shouldBe 2
    val bad = df.filter(col("_corrupt_record").isNotNull).collect()
    bad.length shouldBe 1
    bad(0).getAs[String]("_corrupt_record") should include ("NOT_JSON")
    df.unpersist()
  }
}
