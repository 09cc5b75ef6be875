package graft.operators

import graft.{SparkEntry, SparkSuite, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Structural checks for the curation/telemetry operators added in
  * round 5: the two decomposed-window shapes are proven equal to their
  * naive single-reducer forms (the property the oracle also checks at
  * sf0.01, replicated here against an in-test Spark reference so a
  * regression fails fast without DuckDB), and each op's internal
  * invariants hold on real testdata.
  */
class CurationOpsSpec extends AnyFunSuite with Matchers with SparkSuite {

  private val sf = "/root/testdata/sf0.001"
  private def haveData = new java.io.File(s"$sf/events.parquet").exists

  test("late_data bucketed prefix-max equals the naive global window") {
    assume(haveData)
    // naive reference: one unpartitioned running max over arrival order
    val naive = Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"),
        expr("ts div 1000").as("us"))
      .withColumn("arr",
        col("us") + expr(
          "CAST(conv(substr(md5(CAST(event_id AS STRING)), 1, 8), " +
            "16, 10) AS BIGINT) % 300000000"))
      .withColumn("wm",
        max(col("us")).over(Window.orderBy("arr", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          - lit(120000000L))
      .withColumn("late", (col("us") < col("wm")).cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum(col("late")).as("n_late"))
      .orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))

    val decomposed = SparkEntry.queries("q_scale_late_data")(spark, sf)
      .select("event_type", "n_events", "n_late")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))

    decomposed shouldBe naive
    // the jitter construction must actually produce late rows
    decomposed.map(_._3).sum should be > 0L
  }

  test("domain_caps two-phase top-K equals the naive per-domain window") {
    assume(haveData)
    val cap = 10
    val naive = Tables.documents(spark, sf)
      .withColumn("rk", row_number().over(
        Window.partitionBy("source")
          .orderBy(col("n_chars").desc, col("doc_id"))))
      .filter(col("rk") <= cap)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars_kept"))
      .orderBy("source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))

    val twoPhase = SparkEntry.queries("q_text_domain_caps")(spark, sf)
      .select("source", "n_kept", "chars_kept")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))

    twoPhase shouldBe naive
  }

  test("novelty: earliest doc is fully novel; all ppm in range") {
    assume(haveData)
    val rows = SparkEntry.queries("q_text_novelty")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    rows should not be empty
    // the first doc (ingestion order) can only contain first occurrences
    rows.head._4 shouldBe 1000000L
    rows.foreach { case (_, nGrams, nNovel, ppm) =>
      nNovel should be <= nGrams
      ppm should (be >= 0L and be <= 1000000L)
    }
    // novelty must decay somewhere: not every doc can be fully novel
    rows.exists(_._4 < 1000000L) shouldBe true
  }

  test("temperature mixture flattens the natural distribution") {
    assume(haveData)
    val rows = SparkEntry.queries("q_scale_temperature_mix")(spark, sf)
      .select("natural_ppm", "temp_ppm", "target_tokens")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    rows.length should be > 1
    // sqrt scaling compresses the spread: the head loses share, the
    // tail gains (allow 1 ppm of integer-division slack at the bounds)
    rows.map(_._2).max should be <= (rows.map(_._1).max + 1)
    rows.map(_._2).min should be >= (rows.map(_._1).min - 1)
    // allocations cannot exceed the budget
    rows.map(_._3).sum should be <= 1000000L
  }

  test("ohlc bars are internally consistent") {
    assume(haveData)
    val rows = SparkEntry.queries("q_window_ohlc")(spark, sf).collect()
    rows should not be empty
    rows.foreach { r =>
      val (open, close) = (r.getLong(2), r.getLong(3))
      val (high, low) = (r.getLong(4), r.getLong(5))
      val volume = r.getLong(6)
      low should be <= high
      open should (be >= low and be <= high)
      close should (be >= low and be <= high)
      volume should be >= 1L
    }
  }

  test("caption alignment attributes tokens to in-range frames") {
    assume(haveData)
    val rows = SparkEntry.queries("q_mm_caption_align")(spark, sf).collect()
    rows should not be empty
    rows.foreach { r =>
      val nFrames = r.getInt(1)
      val nAligned = r.getLong(2)
      val bestFrame = r.getInt(3)
      val bestCount = r.getLong(4)
      bestFrame should (be >= 0 and be < nFrames)
      bestCount should be <= nAligned
      bestCount should be >= 1L
    }
  }

  test("attribution credits at most one click per purchase, within lookback") {
    assume(haveData)
    val rows = SparkEntry.queries("q_window_attribution")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    rows should not be empty
    rows.foreach { case (_, nPurch, nAttr, sumGap, maxGap) =>
      nAttr should be <= nPurch
      maxGap should be <= 604800000L // lookback bound, in ms
      sumGap should be >= maxGap
    }
    // clicks and purchases interleave densely; attribution must happen
    rows.map(_._3).sum should be > 0L
  }

  test("shard manifest is balanced and its digests are rerun-stable") {
    assume(haveData)
    def run() = SparkEntry.queries("q_scale_shard_manifest")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(7)))
    val first = run()
    first.length shouldBe 64
    first.map(_._3).sum should (be >= 999900L and be <= 1000000L)
    // hash assignment keeps every shard within 3× of the uniform share
    first.foreach { case (_, _, ppm, _) => ppm should be <= 3000000L / 64 }
    // the bit_xor digest is order-independent: a rerun (different task
    // scheduling, same data) must reproduce it exactly
    run() shouldBe first
  }

  test("embedding outlier cull flags a strict minority per label") {
    assume(haveData)
    val rows = SparkEntry.queries("q_sim_embed_outliers")(spark, sf)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    rows.length shouldBe 10
    rows.foreach { case (_, nVecs, nOut, meanD2, maxD2) =>
      nOut should be < nVecs / 2
      maxD2 should be >= meanD2
    }
  }

  test("keep-list disposition is a valid partition of the corpus") {
    assume(haveData)
    val rows = SparkEntry.queries("q_dedup_keep_list")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nDocs = Tables.documents(spark, sf).count()
    rows.length shouldBe nDocs
    // exactly one kept doc per canonical id, and it IS the canonical
    val byCanon = rows.groupBy(_._2)
    byCanon.foreach { case (canon, members) =>
      members.count(_._3 == 1L) shouldBe 1
      members.find(_._3 == 1L).get._1 shouldBe canon
      // every member agrees on the component size
      members.map(_._4).distinct.length shouldBe 1
      members.head._4 shouldBe members.length.toLong
    }
    // the corpus has known duplicate families: something must drop
    rows.count(_._3 == 0L) should be > 0
  }

  test("url dedup groups are genuine duplicates keeping the earliest doc") {
    assume(haveData)
    val rows = SparkEntry.queries("q_text_url_dedup")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // sf0.001's shared-prefix docs must collapse into at least one group
    rows should not be empty
    rows.foreach { case (canon, nDocs, _) =>
      nDocs should be >= 2L
      // canonical form is scheme-less, www-less, tracker-less, no
      // trailing slash
      canon should not include "://"
      canon should not startWith "www."
      canon should not include "utm_"
      canon should not endWith "/"
    }
  }

  // ------------------------- round-6 final-block op goldens (toy data)

  private def toyDir(): String =
    java.nio.file.Files.createTempDirectory("graft-curation-toy").toString

  test("lexical diversity golden: hand-counted TTR / hapax / top-word") {
    import spark.implicits._
    val dir = toyDir()
    Seq((1L, "a b a c a b", "en", "s", 11L),
      (2L, "x  y", "en", "s", 4L)) // double space → empty token dropped
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q_text_lexical")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // doc 1: 6 tokens {a×3, b×2, c×1} → types 3, ttr 3e6/6 = 500000,
    // hapax {c} → 166666 (floor), top a×3 → 500000
    // doc 2: 2 tokens, all hapax → ttr/hapax 1e6, top 500000
    rows shouldBe Array(
      (1L, 6L, 3L, 500000L, 166666L, 500000L),
      (2L, 2L, 2L, 1000000L, 1000000L, 500000L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("anomaly gate golden: the hand-computed z² flags exactly one row") {
    import spark.implicits._
    val dir = toyDir()
    val minNs = 60L * 1000000000L
    // the same series as EventStreamsSpec's ring-carry test — the batch
    // window form must produce the identical single flag, pinning
    // batch/stream equivalence to one hand-derived number
    val base = (1 to 10).map(i => (i.toLong, i.toLong * minNs, 1L, "click",
      if (i % 2 == 1) 10.0 else 20.0, "{}"))
    val extra = Seq((11L, 11L * minNs, 1L, "click", 1000.0, "{}"),
      (12L, 12L * minNs, 1L, "click", 15.0, "{}"))
    (base ++ extra)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("q_window_anomaly")(spark, dir).collect()
    rows.length shouldBe 1
    rows.head.getAs[Long]("event_id") shouldBe 11L
    rows.head.getAs[Long]("n_prior") shouldBe 10L
    rows.head.getAs[Long]("z2_ppk") shouldBe 38809000L
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("markov golden: row-normalized transitions on a 2-user toy") {
    import spark.implicits._
    val dir = toyDir()
    val minNs = 60L * 1000000000L
    // user 1: view → view → click; user 2: view → buy
    Seq((1L, 1L * minNs, 1L, "view", 1.0, "{}"),
      (2L, 2L * minNs, 1L, "view", 1.0, "{}"),
      (3L, 3L * minNs, 1L, "click", 1.0, "{}"),
      (4L, 1L * minNs, 2L, "view", 1.0, "{}"),
      (5L, 2L * minNs, 2L, "buy", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("q_window_markov")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3)))
    rows shouldBe Array(
      ("view", "buy", 1L, 333333L),
      ("view", "click", 1L, 333333L),
      ("view", "view", 1L, 333333L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("zipf fit: an exact power-law corpus recovers slope −1, r −1; " +
      "JVM OLS cross-check") {
    import spark.implicits._
    val dir = toyDir()
    // word k appears exactly ⌊60/k⌋ times, k = 1..12 — a clean
    // freq ∝ rank⁻¹ head (floor quantization bends it slightly; the
    // reference below reproduces the same quantization)
    val words = (1 to 12).flatMap(k => Seq.fill(60 / k)(s"w$k"))
    Seq((1L, words.mkString(" "), "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val row = SparkEntry.queries("q_text_zipf")(spark, dir).collect()
    row.length shouldBe 1
    row(0).getLong(0) shouldBe 12L
    // independent JVM OLS over the same (ln rank, ln floor(60/k)) grid
    val pts = (1 to 12).map(k =>
      (math.log(k.toDouble), math.log((60 / k).toDouble)))
    val n = pts.size.toDouble
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxx = pts.map(p => p._1 * p._1).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val syy = pts.map(p => p._2 * p._2).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val r = (n * sxy - sx * sy) /
      math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    row(0).getDouble(1) shouldBe
      (math.rint(slope * 10000) / 10000.0) +- 1e-4
    row(0).getDouble(3) shouldBe (math.rint(r * 10000) / 10000.0) +- 1e-4
    // the power law itself: slope near −1, correlation near perfect
    row(0).getDouble(1) should (be >= -1.1 and be <= -0.9)
    row(0).getDouble(3) should be <= -0.99
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
