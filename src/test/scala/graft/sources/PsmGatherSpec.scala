package graft.sources

import graft.SparkSuite
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Golden-file coverage for the stage-9/10 result-gather readers. */
class PsmGatherSpec extends AnyFunSuite with Matchers with SparkSuite {

  private def write(path: String, content: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), content.getBytes("UTF-8"))
  }

  test("percolator PSM tables collate with file and quality provenance") {
    val dir = Files.createTempDirectory("graft-psm").toString
    write(s"$dir/mapA_Q1_crux.tsv",
      "scan\tcharge\tpercolator score\tsequence\n" +
        "0\t2\t1.25\tPEPTIDEK\n1\t3\t0.75\tSEQENCER\n")
    write(s"$dir/mapA_Q2_crux.tsv",
      "scan\tcharge\tpercolator score\tsequence\n2\t2\t0.5\tANOTHERK\n")
    val df = PsmGather.readPsmTables(spark,
      Seq(s"$dir/mapA_Q1_crux.tsv", s"$dir/mapA_Q2_crux.tsv"))
    df.count() shouldBe 3
    df.columns should contain allOf ("scan", "charge", "sequence", "file", "quality")
    val byScan = df.collect().map(r =>
      r.getAs[Int]("scan") -> r.getAs[String]("quality")).toMap
    byScan shouldBe Map(0 -> "1", 1 -> "1", 2 -> "2")
    df.filter(org.apache.spark.sql.functions.col("file").contains("_Q2_"))
      .count() shouldBe 1
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("slice gather stamps params from the partition path (decomp_measures)") {
    val root = Files.createTempDirectory("graft-slices").toString
    write(s"$root/swath_lower_adjusted=500.5/rt_window=12.0/decomp_measures.csv",
      "ncomp,rsq,iterations\n10,0.91,120\n11,0.93,140\n")
    write(s"$root/swath_lower_adjusted=623.0/rt_window=3.0/decomp_measures.csv",
      "ncomp,rsq,iterations\n10,0.88,90\n")
    val df = PsmGather.gatherSliceResults(spark, root,
      "decomp_measures.csv", addSliceParams = true)
    df.count() shouldBe 3
    val rows = df.select("swath_start", "rt_window", "ncomp").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).sorted
    rows shouldBe Array(("500.50", 12, 10), ("500.50", 12, 11), ("623.00", 3, 10))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("slice gather normalizes in-file params (id_results)") {
    val root = Files.createTempDirectory("graft-ids").toString
    write(s"$root/swath_lower_adjusted=500.5/rt_window=12.0/id_results.csv",
      "swath_start,rt_window,ncomp,scan,sequence\n500.5,12,10,7,PEPTIDEK\n")
    val df = PsmGather.gatherSliceResults(spark, root,
      "id_results.csv", addSliceParams = false)
    val r = df.select("swath_start", "rt_window", "ncomp", "scan").head()
    (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3)) shouldBe
      (("500.50", 12, 10, 7))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }
}
