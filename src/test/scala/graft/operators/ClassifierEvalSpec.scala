package graft.operators

import graft.{SparkEntry, SparkSuite, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Independent checks for the threshold-free classifier evals.
  *
  * q_text_auc computes AUC via the Mann-Whitney rank-sum with doubled
  * midranks; the risky part is the tie algebra, so this spec recomputes
  * the same (label, score) pairs naively and counts concordant /
  * tied (positive, negative) pairs O(n²) — the textbook AUC definition
  * — and requires exact ppm agreement. q_text_calibration is checked
  * for partition totality (bins partition the held-out set) and its
  * per-bin positive rates against the same naive pair set.
  */
class ClassifierEvalSpec extends AnyFunSuite with Matchers
    with SparkSuite {

  private val sf = "/root/testdata/sf0.001"
  private def haveData =
    new java.io.File(s"$sf/documents.parquet").exists

  /** Naive recomputation of the held-out (y, en_score, total_score)
    * rows: same 80/20 md5 split and token counting as the classifier
    * kernel, but assembled through plain SQL instead of the shared
    * Scala kernel, so a regression in either side fails the compare. */
  private def naivePairs(): Array[(Long, Long, Long)] = {
    Tables.documents(spark, sf).createOrReplaceTempView("docs_ce")
    spark.sql("""
      WITH d AS (
        SELECT doc_id, lang, text,
               CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8),
                         16, 10) AS BIGINT) % 100 AS bucket
        FROM docs_ce),
      t AS (
        SELECT doc_id, lang, bucket, w
        FROM d LATERAL VIEW explode(filter(split(text, ' '),
                                           w -> w != '')) AS w),
      m AS (
        SELECT w, lang AS c, count(*) AS n
        FROM t WHERE bucket < 80 GROUP BY w, lang),
      s AS (
        SELECT t.doc_id, m.c, sum(m.n) AS score
        FROM t JOIN m ON m.w = t.w
        WHERE t.bucket >= 80 GROUP BY t.doc_id, m.c)
      SELECT CAST(d.lang = 'en' AS BIGINT) AS y,
             coalesce(max(CASE WHEN s.c = 'en' THEN s.score END), 0)
               AS en_score,
             coalesce(sum(s.score), 0) AS tot_score
      FROM d LEFT JOIN s ON s.doc_id = d.doc_id
      WHERE d.bucket >= 80
      GROUP BY d.doc_id, d.lang""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
  }

  test("AUC rank-sum equals the O(n²) pair-count definition exactly") {
    assume(haveData)
    val pairs = naivePairs().map { case (y, en, tot) =>
      (y, if (tot == 0L) 0L else en * 1000L / tot)
    }
    val pos = pairs.filter(_._1 == 1L).map(_._2)
    val neg = pairs.filter(_._1 == 0L).map(_._2)
    assume(pos.nonEmpty && neg.nonEmpty)
    // doubled pair score: 2 per concordant pair, 1 per tie
    val num2 = (for (p <- pos; n <- neg) yield {
      if (p > n) 2L else if (p == n) 1L else 0L
    }).sum
    val expect = num2 * 1000000L / (2L * pos.length * neg.length)

    val row = SparkEntry.queries("q_text_auc")(spark, sf).collect()
    row.length shouldBe 1
    row(0).getLong(0) shouldBe pos.length.toLong
    row(0).getLong(1) shouldBe neg.length.toLong
    row(0).getLong(2) shouldBe expect
    // a probability: the doubled-midrank algebra can't leave [0, 1e6]
    row(0).getLong(2) should (be >= 0L and be <= 1000000L)
  }

  test("calibration bins partition the held-out set; rates match naive") {
    assume(haveData)
    val pairs = naivePairs()
    val naive = pairs.map { case (y, en, tot) =>
      val p = if (tot == 0L) 0L else en * 1000L / tot
      (math.min(9L, p / 100L), y, p)
    }
    val byBin = naive.groupBy(_._1).map { case (b, rows) =>
      b -> (rows.length.toLong,
        rows.map(_._3).sum / rows.length,
        rows.map(_._2).sum * 1000L / rows.length)
    }

    val got = SparkEntry.queries("q_text_calibration")(spark, sf)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    got.keySet shouldBe byBin.keySet
    got.values.map(_._1).sum shouldBe pairs.length.toLong
    for ((b, (n, mp, pr)) <- byBin) {
      got(b)._1 shouldBe n
      got(b)._2 shouldBe mp
      got(b)._3 shouldBe pr
    }
  }
}
