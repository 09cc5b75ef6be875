package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** `graft_roll64` contract:
  *   - the ROLLED hash at every position equals the direct polynomial
  *     recomputation over that window's token hashes (the recurrence
  *     introduces no drift — the property the ExactSubstr screen's
  *     superset argument stands on);
  *   - equal windows hash equal across documents and positions;
  *   - size(ws) < L ⇒ empty array, = L ⇒ one entry;
  *   - wrong types / nullable elements / non-literal or <2 L are
  *     ANALYSIS errors, not runtime garbage (the graft_ixcount
  *     discipline for session-registered SQL).
  */
class RollingGramHashSpec
    extends AnyFunSuite with Matchers with SparkSuite {

  private def roll(tokens: Seq[String], l: Int): Seq[Long] = {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    Seq(tokens).toDF("ws")
      .selectExpr(s"graft_roll64(ws, $l)")
      .collect()(0).getSeq[Long](0)
  }

  // direct Horner evaluation of one window — the rolled recurrence
  // must agree with this at every offset
  private def direct(tokens: Seq[String], l: Int): Seq[Long] = {
    val xs = tokens.map { t =>
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
        org.apache.spark.unsafe.types.UTF8String.fromString(t), 42L)
    }
    (0 to tokens.length - l).map { i =>
      xs.slice(i, i + l).foldLeft(0L)((h, x) => h * RollingGramHash.Base + x)
    }
  }

  test("rolled equals direct Horner at every position (randomized)") {
    // seeded, 60 shapes incl. repeated/empty/multibyte tokens — the
    // rolled recurrence must agree with direct Horner everywhere
    val vocab = Vector("a", "bb", "ccc", "δδ", "x1", "", " ", "longtoken")
    val rnd = new scala.util.Random(4242)
    (1 to 60).foreach { _ =>
      val n = 1 + rnd.nextInt(60)
      val ts = Seq.fill(n)(vocab(rnd.nextInt(vocab.length)))
      val l = 2 + rnd.nextInt(11)
      withClue(s"n=$n l=$l ts=$ts: ") {
        roll(ts, l) shouldBe direct(ts, l)
      }
    }
  }

  test("equal windows hash equal; unequal windows differ on this corpus") {
    val shared = (1 to 8).map(i => s"s$i")
    val a = Seq("x1", "x2") ++ shared ++ Seq("x3")
    val b = shared ++ Seq("y1", "y2")
    val ha = roll(a, 8)
    val hb = roll(b, 8)
    ha(2) shouldBe hb(0) // the shared window, at different offsets
    // all other window pairs differ (vocab-distinct by construction)
    ha.zipWithIndex.foreach { case (h, i) =>
      if (i != 2) hb should not contain h
    }
  }

  test("boundary sizes: below L empty, exactly L one entry") {
    roll(Seq("a", "b"), 3) shouldBe empty
    roll(Seq("a", "b", "c"), 3).length shouldBe 1
    roll(Seq("a", "b", "c", "d"), 3).length shouldBe 2
  }

  test("misuse is an analysis error: types and window length") {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq(Seq("a", "b", "c")).toDF("ws")
    // wrong column type
    intercept[AnalysisException] {
      df.selectExpr("graft_roll64(array(1L, 2L), 2)").collect()
    }.getMessage should include("ARRAY<STRING>")
    // non-literal window length
    intercept[AnalysisException] {
      df.selectExpr("graft_roll64(ws, size(ws))").collect()
    }.getMessage.toLowerCase should include("literal")
    // literal below 2
    intercept[AnalysisException] {
      df.selectExpr("graft_roll64(ws, 1)").collect()
    }.getMessage should include(">= 2")
  }

  test("null token slots hash to the fixed sentinel, deterministically") {
    graft.functions.GraftFunctions.register(spark)
    // null == null window equality: two arrays with nulls at the same
    // offsets among equal tokens produce equal window hashes
    val a = spark.sql(
      "SELECT graft_roll64(array('a', NULL, 'b'), 2) AS h").collect()(0)
      .getSeq[Long](0)
    val b = spark.sql(
      "SELECT graft_roll64(array('a', NULL, 'b'), 2) AS h").collect()(0)
      .getSeq[Long](0)
    a shouldBe b
    a.length shouldBe 2
    // and a null is not the empty string
    val c = spark.sql(
      "SELECT graft_roll64(array('a', '', 'b'), 2) AS h").collect()(0)
      .getSeq[Long](0)
    a should not equal c
  }

  test("null input row yields null, not a crash") {
    graft.functions.GraftFunctions.register(spark)
    val row = spark.sql(
      "SELECT graft_roll64(CAST(NULL AS ARRAY<STRING>), 2) AS h")
      .collect()(0)
    row.isNullAt(0) shouldBe true
  }
}
